"""URL & domain kernel — P1-P11 of the operator inventory (SURVEY §2.2).

Everything is a Column expression. The public-suffix computation
(reference: golang.org/x/net/publicsuffix via
/root/reference/pkg/commoncrawl/wat.go:660-672) has exactly one Spark
form, ``with_registrable_domain``: it evaluates the FULL bundled Mozilla
PSL snapshot (~9.5k rules, ``functions/psl.py``) with two broadcast
suffix-table joins for the large rule lengths and small inline ``InSet``
probes for the rest, inside whole-stage codegen with no Python worker.
``psl.etld_plus_one_py`` is the pure-Python spec it is tested against
and the form the driver-side API path calls per request.

Semantics cited into the reference:
- URL parse + host normalize + default path: buildURLRecord wat.go:623-678
- scheme encode http→"1" https→"2" else "0":  setScheme  wat.go:821-829
- subdomain = host minus "."+domain:          genSubdomain wat.go:953-962
- tracking-query blank-out:                   ignoreQuery  wat.go:726-733
- URL reconstruction for API output:          pkg/linkdb/controller.go:201-265
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from globallinks_spark.config import IGNORED_QUERY_PREFIXES
from globallinks_spark.functions import psl
from globallinks_spark.functions.binding import bind_once

# ---------------------------------------------------------------------------
# Public-suffix kernel. Rule data + the pure-Python spec live in
# functions/psl.py (full bundled Mozilla snapshot, ~9.5k rules).

# Literal Columns are py4j objects; building ~9.5k of them costs ~1 s of
# driver round trips, so build once per process and reuse (unresolved
# literal expressions are plan-independent and outlive any one query;
# the py4j gateway lives for the whole process).
_psl_lit_cache: dict[tuple[str, int], list[Column]] = {}


def _psl_lits(kind: str, k: int, values: frozenset[str]) -> list[Column]:
    key = (kind, k)
    if key not in _psl_lit_cache:
        _psl_lit_cache[key] = [F.lit(v) for v in sorted(values)]
    return _psl_lit_cache[key]


def _etld_expr_parts(
    host: Column, big_markers: dict[int, Column], labels: Column,
) -> Column:
    """The eTLD+1 Column tree over ``host`` split into ``labels``.

    ``big_markers`` maps a suffix length s to a boolean Column that is
    true when the host's length-s suffix is an exact rule of that
    length — supplied by ``with_registrable_domain``'s broadcast joins
    for the two lengths whose rule sets are large (5,771 two-label and
    2,309 three-label rules). Lengths not in the dict probe an inline
    ``InSet`` instead (fine for the remaining ~250 rules; pathological
    for thousands: a ~9.5k-literal tree bloats every task binary and
    generates methods the JIT takes tens of seconds to converge on).
    """
    n = F.size(labels)

    def suffix(k: int) -> Column:
        # greatest(start, 1) keeps the slice ANSI-legal for hosts with
        # fewer than k labels (start 0 is an error); the (n >= k) term in
        # every consumer makes the clamped value semantically inert. The
        # clamp matters because codegen subexpression elimination may
        # hoist these probes onto the guaranteed-evaluation path.
        start = F.greatest(n - F.lit(k - 1), F.lit(1))
        return F.concat_ws(".", F.slice(labels, start, k))

    def probe(s: int) -> Column | None:
        out: Column | None = None
        if s in big_markers:
            out = big_markers[s]
        elif s in psl.EXACT_BY_LEN:
            out = suffix(s).isin(*_psl_lits("exact", s, psl.EXACT_BY_LEN[s]))
        if s - 1 in psl.TAILS_BY_LEN:
            wild = suffix(s - 1).isin(
                *_psl_lits("tail", s - 1, psl.TAILS_BY_LEN[s - 1])
            )
            out = wild if out is None else (out | wild)
        if out is None:
            return None
        return (n >= s) & out

    # longest-match suffix length, branch-free: greatest() over one
    # when(cond, s) per rung keeps every rung's condition on codegen's
    # guaranteed-evaluation path, so the split/slice/concat subtrees are
    # computed once per row and shared (a when-CHAIN puts rungs 2..k on
    # the conditional path, where subexpression elimination is disabled —
    # measured ~9 µs/row vs ~1 µs/row for this shape).
    rungs = [
        F.when(p, F.lit(s))
        for s in range(psl.MAX_SUFFIX_LEN, 1, -1)
        if (p := probe(s)) is not None
    ]
    g = F.greatest(*rungs, F.lit(1)) if rungs else F.lit(1)

    # exception rules prevail over any longer match (PSL spec); applied
    # as arithmetic select so nothing drops to the conditional path
    slen: Column = g
    for k in sorted(psl.EXCEPTIONS_BY_LEN):
        exc = (
            (n >= k)
            & suffix(k).isin(*_psl_lits("exc", k, psl.EXCEPTIONS_BY_LEN[k]))
        ).cast("int")
        slen = exc * F.lit(k - 1) + (F.lit(1) - exc) * slen

    start = F.greatest(n - slen, F.lit(1))  # ANSI clamp, as above
    out = F.concat_ws(".", F.slice(labels, start, slen + F.lit(1)))
    return F.when(
        host.isNull() | (host == "") | ~host.contains(".") | (n <= slen),
        F.lit(None).cast("string"),
    ).otherwise(out)


# Packed suffix-rule strings for the two large rule lengths —
# session-INDEPENDENT, so a plain module dict is safe. Only the string
# is cached: an earlier version cached the built DataFrames weak-keyed
# by session, but a DataFrame strongly references its SparkSession, so
# the WeakKeyDictionary's values pinned their own keys and stopped
# sessions stayed alive (round-2 advice). Rebuilding the frame is three
# gateway calls on a 1-row range — nothing; the cost worth caching is
# the one ~80 KB join over the 5.8k-rule set below.
_packed_rules_cache: dict[int, str] = {}

# Built marker-based eTLD+1 trees, keyed by host column name (the tree
# also references the fixed __psl_m2/__psl_m3 join-marker names).
_etld_marker_expr_cache: dict[str, Column] = {}


def _suffix_df(spark, k: int):
    if k not in _packed_rules_cache:
        _packed_rules_cache[k] = "|".join(sorted(psl.EXACT_BY_LEN[k]))
    # One ~80 KB string literal split JVM-side: row-by-row
    # createDataFrame of the 5.8k-rule table costs ~2.5 s of py4j
    # serialization (measured); this is one gateway call and the
    # split/explode runs in the JVM.
    packed = _packed_rules_cache[k]
    return (
        spark.range(1)
        .select(F.explode(F.split(F.lit(packed), r"[|]")).alias(f"__psl_s{k}"))
        .withColumn(f"__psl_m{k}", F.lit(True))
    )


def with_registrable_domain(
    df: DataFrame, host_col: str, out_col: str
) -> DataFrame:
    """eTLD+1 of ``host_col`` into ``out_col`` as a broadcast-join
    transform — the one Spark form of the kernel, and the 100 TB hot
    path. NULL and empty hosts map to NULL.

    The two big rule sets (two- and three-label exact rules) live in
    broadcast hash joins: the host's length-2 and length-3 suffixes are
    computed once, left-joined against ~8 k-row broadcast tables
    (map-side, no shuffle, no row multiplication — rule tables are
    distinct), and the remaining ~250 rules (4/5-label exacts, wildcard
    tails, exceptions) stay as small inline ``InSet`` probes. Per-row
    cost: one split, two broadcast-hash probes, ~6 small set probes.
    Inlining all ~9.5k rules instead bloats every task binary (~1.8 MB)
    and costs tens of seconds of JIT warm-up per stage — measured 2×
    end-to-end extraction slowdown even warm.

    The result is bound behind the optimization barrier: callers
    reference the domain many times (classification, dedup keys,
    filters), and without the barrier CollapseProject/pushdown
    re-inlines the whole tree per reference (measured 1,110 split()
    copies in the extraction plan). Batch-only barrier.

    Reference semantics: publicsuffix.EffectiveTLDPlusOne
    (wat.go:660-672); parity with the pure-Python spec
    ``psl.etld_plus_one_py`` is pinned by tests/test_psl_full.py.
    """
    host = F.col(host_col)
    # Bind the label split ONCE behind the optimization barrier: the
    # suffix probes, the join keys, and the final slice all reference the
    # bound attribute, so the split appears once in the plan instead of
    # ~90× (CollapseProject re-inlines deterministic aliases into every
    # reference; measured the duplication doubles Janino compile time).
    # Strip leading/trailing dots before splitting, as the spec does: a
    # trailing dot ('example.com.') would add an empty label, every
    # suffix probe would miss, and the result would be 'com.' instead of
    # the spec's 'example.com'.
    df = df.withColumn(
        "__psl_labels",
        bind_once(
            F.split(F.regexp_replace(host, r"^\.+|\.+$", ""), r"\.")
        ),
    )
    labels = F.col("__psl_labels")
    n = F.size(labels)

    def suffix(k: int) -> Column:
        start = F.greatest(n - F.lit(k - 1), F.lit(1))
        return F.concat_ws(".", F.slice(labels, start, k))

    spark = df.sparkSession
    joined = df.withColumns(
        {"__psl_s2": suffix(2), "__psl_s3": suffix(3)}
    )
    joined = joined.join(
        F.broadcast(_suffix_df(spark, 2)), on="__psl_s2", how="left"
    )
    joined = joined.join(
        F.broadcast(_suffix_df(spark, 3)), on="__psl_s3", how="left"
    )
    # The output tree references only fixed names (host_col, __psl_m2/3),
    # so it is plan-independent — cache it: building it costs ~2.5 s of
    # py4j round trips (measured), paid per *query construction* without
    # the cache.
    cache_key = host_col
    if cache_key not in _etld_marker_expr_cache:
        markers = {
            2: F.col("__psl_m2").isNotNull(),
            3: F.col("__psl_m3").isNotNull(),
        }
        _etld_marker_expr_cache[cache_key] = _etld_expr_parts(
            host, markers, labels
        )
    out = bind_once(_etld_marker_expr_cache[cache_key])
    return joined.withColumn(out_col, out).drop(
        "__psl_labels", "__psl_s2", "__psl_s3", "__psl_m2", "__psl_m3"
    )


# ---------------------------------------------------------------------------
# Column expression builders (P1-P11). All pure ``F.*`` — codegen'd JVM-side.

def url_scheme(url: Column) -> Column:
    """Raw scheme token of a URL ('' for scheme-relative // links)."""
    return F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)


def scheme_code(scheme: Column) -> Column:
    """P2 — http→'1', https→'2', else '0' (wat.go:821-829)."""
    return (
        F.when(F.lower(scheme) == "https", F.lit("2"))
        .when(F.lower(scheme) == "http", F.lit("1"))
        .otherwise(F.lit("0"))
    )


def decode_scheme(code: Column) -> Column:
    """Inverse of ``scheme_code`` for API URL reconstruction. NOTE the
    reference decoder maps '0'→https (controller.go:239-244, a lossy
    round-trip); we keep that quirk for output parity."""
    return F.when(code == "1", F.lit("http")).otherwise(F.lit("https"))


def _parseable(url: Column) -> Column:
    """URL rewritten so Spark's parse_url accepts scheme-relative links:
    '//host/x' (accepted by the reference, wat.go:509) gets a temporary
    http: prefix — the scheme code is computed from the raw string first."""
    return F.when(url.startswith("//"), F.concat(F.lit("http:"), url)) \
            .otherwise(url)


def url_host(url: Column) -> Column:
    """P1 — lowercased, trimmed host (buildURLRecord, wat.go:644-645)."""
    return F.lower(F.trim(F.parse_url(_parseable(url), F.lit("HOST"))))


def url_path(url: Column) -> Column:
    """P1 — path with '' defaulted to '/' (wat.go:646-648)."""
    p = F.parse_url(_parseable(url), F.lit("PATH"))
    return F.when((p.isNull()) | (p == ""), F.lit("/")).otherwise(p)


def url_raw_query(url: Column, blank_ignored: bool = True) -> Column:
    """P1 + P8 — raw query, '' when absent; tracking prefixes blanked
    (ignoreQuery wat.go:726-733; prefix list config.go:199-203)."""
    q = F.coalesce(F.parse_url(_parseable(url), F.lit("QUERY")), F.lit(""))
    if blank_ignored:
        pat = "^(" + "|".join(IGNORED_QUERY_PREFIXES) + ")"
        q = F.when(q.rlike(pat), F.lit("")).otherwise(q)
    return q


def url_fragment(url: Column) -> Column:
    return F.coalesce(F.parse_url(_parseable(url), F.lit("REF")), F.lit(""))


def subdomain(host: Column, domain: Column) -> Column:
    """P4 — host minus '.'+domain; '' when host == domain
    (genSubdomain, wat.go:953-962)."""
    trimmed = F.substring(
        host, F.lit(1), F.length(host) - F.length(domain) - F.lit(1)
    )
    return F.when(host == domain, F.lit("")).otherwise(
        F.when(host.endswith(F.concat(F.lit("."), domain)), trimmed)
        .otherwise(host)
    )


def scrub_delimiter(text: Column) -> Column:
    """P7 — '|' → ' ' in free text (Title wat.go:334, LinkText wat.go:355).
    Only needed for pipe-text interchange; harmless on parquet."""
    return F.regexp_replace(text, r"\|", " ")


def reconstruct_url(
    scheme_col: Column, sub: Column, domain: Column,
    path: Column, query: Column,
) -> Column:
    """P10 — scheme://[sub.]domain[path][?query] for API output
    (controller.go:201-211, 246-265)."""
    host = F.when(sub == "", domain).otherwise(F.concat_ws(".", sub, domain))
    q = F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query))
    return F.concat(decode_scheme(scheme_col), F.lit("://"), host, path, q)


def wat_file_number(path: Column) -> Column:
    """P11 — the NNNNN in '...-NNNNN.warc.wat.gz'
    (ExtractWatFileNumber, wat.go:832-846)."""
    return F.regexp_extract(path, r"-(\d+)\.warc\.wat\.gz$", 1)
