"""Extraction-throughput profile artifact (EXTRACT_PROFILE.json).

Round-4 verdict asked: is the driver-host drop to 276,728
pages/min/core (r03: 297,745; builder hosts: 325-406k) host noise or a
plan regression?  This script answers it reproducibly: it runs the
bench_extract kernel at 100k synthetic WAT pages AND decomposes the
materialized pipeline stage-by-stage (same noop-sink policy as
bench.py), so any host can regenerate the numbers and compare. If the
count-path value here is >=300k while a driver round records less, the
gap is the host, not the plan - the committed decomposition is the
profile the verdict's "or" branch names.

Stages (cumulative, each materialized through the noop sink):

    scan         gzip text scan + line gate
    json         + from_json envelope parse + field extraction
    page_kernel  + page URL kernel, eTLD+1, robots/canonical gates
    full         extract_links end-to-end (explode, link kernel,
                 eTLD+1 UDF, classification, A2 dedup)

`psl_share_sec` re-times `full` with the eTLD+1 UDF swapped for a
trivial suffix stub (identical row flow, no PSL work): the delta is
the full-semantics public-suffix cost.

Usage: python profile_extract.py [n_pages] [cores] [out_json]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from unittest import mock

from pyspark.sql import functions as F

from bench_extract import measure_extract, write_corpus
from globallinks_spark.functions.binding import bind_once
from globallinks_spark.operators import extract as X
from globallinks_spark.session import get_spark
from globallinks_spark.sources.wat import read_wat_pages


def _timeit(spark, df) -> float:
    df.write.format("noop").mode("overwrite").save()  # codegen warm
    best = float("inf")
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    out_json = sys.argv[3] if len(sys.argv) > 3 else "EXTRACT_PROFILE.json"

    spark = get_spark(
        app_name="extract_profile", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )

    # the headline kernel numbers, same methodology as bench.py's call
    headline = measure_extract(spark, n_pages=n_pages, cores=cores)

    work = tempfile.mkdtemp(prefix="extract_profile-")
    try:
        paths = write_corpus(n_pages, max(cores, 1), work)
        raw = spark.read.text(paths)
        pages = read_wat_pages(spark, paths)
        gated = X.content_quality_gate(X.pages_with_url_record(pages))
        full = X.extract_links(pages)

        stages = {
            "scan_sec": _timeit(spark, raw),
            "json_sec": _timeit(spark, pages),
            "page_kernel_sec": _timeit(spark, gated),
            "full_sec": _timeit(spark, full),
        }

        # PSL share: identical pipeline, eTLD+1 UDF swapped for a
        # trivial last-two-labels stub (same row flow / column shape)
        def _stub(df, host_col, out_col):
            out = F.substring_index(F.col(host_col), ".", -2)
            return df.withColumn(out_col, bind_once(out))

        with mock.patch.object(X.U, "with_registrable_domain", _stub):
            no_psl = _timeit(spark, X.extract_links(pages))
        stages["psl_share_sec"] = round(stages["full_sec"] - no_psl, 2)

        result = {
            "metric": "extract_profile",
            "n_pages": n_pages,
            "cores": cores,
            **{k: headline[k] for k in (
                "value", "extract_sec", "materialize_sec",
                "materialized_pages_per_min_per_core", "compact_sec",
            )},
            "stages_materialized": stages,
            "history_pages_per_min_per_core": {
                "r03_driver": 297745, "r04_driver": 276728,
                "r04_builder_range": [325000, 406284],
                "r05_driver_in_bench": 144996,
                "r05_builder_standalone": 303783,
            },
            "note": "identical code measured 303k (r5 host) vs ~110k "
                    "(r6 host, idle, steal~0), so compare figures only "
                    "within one session on one host; stage split shows "
                    "where materialized time goes (JSON parse, URL "
                    "kernel, eTLD+1 UDF, A2 dedup shuffle).",
        }
        with open(out_json, "w", encoding="utf-8") as fh:
            json.dump(result, fh, indent=1)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
