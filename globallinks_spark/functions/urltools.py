"""URL & domain kernel — P1-P11 of the operator inventory (SURVEY §2.2).

Everything is a Column expression except the public suffix
(reference: golang.org/x/net/publicsuffix, called at wat.go:660-672).
That has one algorithm, ``psl.etld_plus_one_py`` over the FULL bundled
Mozilla PSL snapshot (~9.5k rules, ``functions/psl.py``).
``with_registrable_domain`` runs it in Spark once per distinct host of
each Arrow batch; the driver-side API path calls it per request.

Semantics cited into the reference:
- URL parse + host normalize + default path: buildURLRecord wat.go:623-678
- scheme encode http→"1" https→"2" else "0":  setScheme  wat.go:821-829
- subdomain = host minus "."+domain:          genSubdomain wat.go:953-962
- tracking-query blank-out:                   ignoreQuery  wat.go:726-733
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from globallinks_spark.config import IGNORED_QUERY_PREFIXES
from globallinks_spark.functions import psl
from globallinks_spark.functions.binding import bind_once


def with_registrable_domain(
    df: DataFrame, host_col: str, out_col: str
) -> DataFrame:
    """eTLD+1 of ``host_col`` into ``out_col``. NULL and empty hosts map
    to NULL.

    One scalar pandas UDF: each Arrow batch is factorized into its
    distinct non-null hosts, each distinct host goes through
    ``psl.etld_plus_one_py`` once (compute on the dictionary — link
    hosts repeat heavily), and the codes map the answers back onto the
    batch.

    The result is bound behind the optimization barrier: callers
    reference the domain many times (classification, dedup keys,
    filters), and without the barrier the optimizer pushes the UDF into
    the downstream filter too, evaluating it twice per row (one extra
    ``ArrowEvalPython`` per call, pinned by tests/test_plans.py).

    The UDF is built per call, not at import, so importing this module
    does not import pandas.

    Reference semantics: publicsuffix.EffectiveTLDPlusOne
    (wat.go:660-672), memoized per host like the reference's
    ``domainCache`` (wat.go:139-143).
    """
    import numpy as np
    import pandas as pd

    # unannotated (a scalar UDF by default): the module's postponed
    # annotations could not resolve the locally imported ``pd``
    @F.pandas_udf("string")
    def etld_plus_one(hosts):
        codes, distinct = pd.factorize(hosts)
        # the trailing None is what code -1 (a NULL host) indexes
        domains = np.array(
            [psl.etld_plus_one_py(h) for h in distinct] + [None], dtype=object
        )
        return pd.Series(domains[codes])

    return df.withColumn(out_col, bind_once(etld_plus_one(F.col(host_col))))


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


def wat_file_number(path: Column) -> Column:
    """P11 — the NNNNN in '...-NNNNN.warc.wat.gz'
    (ExtractWatFileNumber, wat.go:832-846)."""
    return F.regexp_extract(path, r"-(\d+)\.warc\.wat\.gz$", 1)
