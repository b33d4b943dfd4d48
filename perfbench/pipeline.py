"""The ingest side of the pipeline: one segment through ``run_import`` →
``run_compact`` → ``run_store``, its correctness check against the
generator's counts, and the traced per-layer probes."""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from globallinks_spark import runner
from pyspark.sql import functions as F

SEGMENT = "bench"


def serving_path(out_dir: str) -> str:
    return os.path.join(out_dir, "serving")


def run_pass(spark, files: list[str], out_dir: str, tracer=None) -> dict:
    """import → compact → store into a fresh ``out_dir``; returns the
    wall seconds of each stage and the span id of each (when traced)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    steps = (
        ("import", lambda: runner.run_import(spark, files, out_dir, SEGMENT)),
        ("compact", lambda: runner.run_compact(spark, out_dir, SEGMENT)),
        ("store", lambda: runner.run_store(spark, out_dir, serving_path(out_dir))),
    )
    out: dict[str, float] = {}
    for name, step in steps:
        ctx = (tracer.span(f"runner.{name}", label_jobs=True)
               if tracer else contextlib.nullcontext())
        with ctx as sid:
            t0 = time.perf_counter()
            step()
            out[name] = time.perf_counter() - t0
        out[f"{name}_span"] = sid
    return out


def check_outputs(spark, out_dir: str, expected: dict) -> dict:
    """Counts of the pass's link, compacted and serving tables against
    the generator's bookkeeping. Returns ``{"ok": bool, ...counts}``."""
    links = spark.read.parquet(os.path.join(out_dir, "links")).count()
    comp = spark.read.parquet(os.path.join(out_dir, "compact")).agg(
        F.count("*").alias("compact_rows"),
        F.sum("qty").alias("sum_qty"),
        F.sum((F.col("qty") > 1).cast("int")).alias("merged_rows"),
        F.sum("no_follow").alias("nofollow_rows"),
    ).first().asDict()
    got = {"link_rows": links, **comp,
           "serving_rows": spark.read.parquet(serving_path(out_dir)).count()}
    want = {k: expected[k] for k in
            ("link_rows", "compact_rows", "sum_qty", "merged_rows",
             "nofollow_rows")}
    want["serving_rows"] = expected["compact_rows"]
    return {"ok": got == want, "got": got, "want": want}


def serving_files(out_dir: str) -> tuple[int, int]:
    """(data files, bytes) of the serving table's bucket directories."""
    n = size = 0
    root = serving_path(out_dir)
    for d in os.listdir(root):
        if d.startswith("domain_bucket="):
            for f in os.listdir(os.path.join(root, d)):
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, d, f))
    return n, size


def layer_probes(spark, tracer, files: list[str], work: str) -> dict:
    """Time each ingest-side layer on its own, each written to the noop
    sink: WAT scan + parse, the page kernel, the whole extract, eTLD+1
    over the corpus's link hosts, and the catalog's ``url_parse`` entry
    (the one entry that calls ``with_registrable_domain``). Returns
    per-layer metrics; ``ok`` is false if ``url_parse`` disagrees with
    its DuckDB oracle."""
    from globallinks_spark.functions import urltools as U
    from globallinks_spark.operators import extract as X
    from globallinks_spark.sources.wat import read_wat_pages

    def timed(name, df_fn) -> float:
        with tracer.span(name, label_jobs=True):
            t0 = time.perf_counter()
            df_fn().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    pages = lambda: read_wat_pages(spark, files)  # noqa: E731
    scan = timed("sources.wat.scan_parse", pages)
    kernel = timed("operators.extract.page_kernel",
                   lambda: X.content_quality_gate(X.pages_with_url_record(pages())))
    extract = timed("operators.extract.extract_links",
                    lambda: X.extract_links(pages()))

    # the link-host column, materialized so eTLD+1 is timed alone
    hosts_dir = os.path.join(work, "hosts")
    (pages().select(F.explode("links").alias("l"))
     .select(U.url_host(F.col("l.url")).alias("host"))
     .where(F.col("host").isNotNull())
     .write.mode("overwrite").parquet(hosts_dir))
    hosts = lambda: spark.read.parquet(hosts_dir)  # noqa: E731
    base = timed("functions.urltools.host_scan", hosts)
    etld = timed("functions.urltools.etld1",
                 lambda: U.with_registrable_domain(hosts(), "host", "domain"))
    n_rows, n_hosts = hosts().agg(
        F.count("*"), F.countDistinct("host")).first()

    url_parse_s, url_parse_ok = _url_parse(spark, timed, work)
    return {
        "ok": url_parse_ok,
        "sources.wat.scan_parse_s": scan,
        "operators.extract.page_kernel_s": max(kernel - scan, 0.0),
        "operators.extract.extract_links_s": extract,
        "functions.urltools.etld1_s": max(etld - base, 0.0),
        "functions.urltools.rows_per_distinct_host": n_rows / max(n_hosts, 1),
        "queries.url_parse_s": url_parse_s,
    }


URL_PARSE_CUSTOMERS = 15_000


def _url_parse(spark, timed, work: str) -> tuple[float, bool]:
    """The catalog's ``url_parse`` over a generated ``customer`` table
    (its only input columns), checked against the entry's own oracle."""
    import duckdb

    from globallinks_spark.queries import REGISTRY

    spec = REGISTRY["url_parse"]
    sf_dir = os.path.join(work, "catalog")
    segs = F.array(*[F.lit(s) for s in
                     ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")])
    (spark.range(1, URL_PARSE_CUSTOMERS + 1, numPartitions=1)
     .select(F.col("id").alias("c_custkey"),
             F.element_at(segs, (F.col("id") % 5 + 1).cast("int")).alias("c_mktsegment"))
     .write.mode("overwrite").parquet(os.path.join(sf_dir, "customer.parquet")))
    seconds = timed("queries.url_parse", lambda: spec.fn(spark, sf_dir))
    got = sorted(tuple(r) for r in spec.fn(spark, sf_dir).collect())
    con = duckdb.connect()
    con.sql("CREATE VIEW customer AS SELECT * FROM read_parquet("
            f"'{os.path.join(sf_dir, 'customer.parquet')}/*.parquet')")
    want = sorted(tuple(r) for r in con.sql(spec.oracle).fetchall())
    return seconds, got == want


def traced_metrics(spark, tracer, counters, passes: list[dict],
                   files: list[str], out_dir: str, work: str) -> tuple[dict, bool]:
    """Per-layer metrics of the ingest side: each runner stage's wall
    seconds and task counters (median over the traced ``passes``), the
    layer probes, and the shape of the output the last pass left in
    ``out_dir`` (its ``check`` counts). Returns (metrics, url_parse
    matched its oracle)."""
    from measure import median

    counters.flush()
    out = {}
    for stage in ("import", "compact", "store"):
        rows = [counters.group(f"runner.{stage}#{p[f'{stage}_span']}")
                for p in passes]
        out[f"runner.{stage}_s"] = median([p[stage] for p in passes])
        for key in ("cpu_s", "shuffle_write_mb", "spill_mb"):
            out[f"runner.{stage}.{key}"] = median([r[key] for r in rows])
    probes = layer_probes(spark, tracer, files, work)
    ok = probes.pop("ok")
    got = passes[-1]["check"]["got"]
    n_files, n_bytes = serving_files(out_dir)
    out.update(probes)
    out["operators.compact.rows_out_per_row_in"] = got["compact_rows"] / got["link_rows"]
    out["sources.serving.bytes_per_row"] = n_bytes / got["serving_rows"]
    out["sources.serving.files"] = n_files
    return out, ok
