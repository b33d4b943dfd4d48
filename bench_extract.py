"""Extraction-pipeline throughput benchmark (not driver-run; complements
bench.py which covers the query catalog).

Generates a synthetic WAT corpus (N pages of realistic envelope JSON with
~12 links each), runs the full extract → compact pipeline, and reports
pages/min/core next to the reference's documented numbers (BASELINE.md:
up to 300,000 pages/min/thread parse; ~30 s per ~100-200k-page WAT file
per core).

Usage: python bench_extract.py [n_pages] [cores]
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import tempfile
import time

from globallinks_spark.operators.compact import compact_segment
from globallinks_spark.operators.extract import extract_links
from globallinks_spark.session import get_spark
from globallinks_spark.sources.wat import read_wat_pages


def _page(i: int) -> dict:
    host = f"site{i % 997}.example{i % 13}.com"
    links = []
    for j in range(12):
        t = (i * 12 + j) % 4999
        links.append({
            "path": "A@/href" if j % 6 else "IMG@/src",
            "url": f"https://target{t}.org/page/{t % 37}"
            if j % 4 else f"/internal/{j}",
            "text": f"anchor text {t}",
            "rel": "nofollow" if j % 11 == 0 else "",
        })
    return {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": f"https://{host}/article/{i}",
                "WARC-Date": f"2023-0{1 + i % 9}-1{i % 9}T10:00:00Z",
                "WARC-IP-Address": f"10.{i % 250}.{(i // 250) % 250}.7",
                "WARC-Type": "response",
            },
            "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
                "Head": {"Title": f"Title {i}", "Metas": [], "Link": []},
                "Links": links,
            }}},
        }
    }


def _write_corpus_file(args: tuple[str, int, int]) -> None:
    path, lo, hi = args
    with gzip.open(path, "wt", encoding="utf-8") as out:
        for i in range(lo, hi):
            out.write("WARC-Type: metadata\n")
            out.write(json.dumps(_page(i)) + "\n")


def write_corpus(n_pages: int, n_files: int, work: str) -> list[str]:
    """Deterministic synthetic WAT corpus of ``n_files`` gzip files under
    ``work``; returns their sorted paths. Files are independent page
    ranges, so generation (untimed, pure Python) runs in a process pool."""
    per_file = n_pages // n_files
    jobs = [
        (os.path.join(work, f"bench-{f:05d}.warc.wat.gz"),
         f * per_file, (f + 1) * per_file)
        for f in range(n_files)
    ]
    if len(jobs) > 1:
        from concurrent.futures import ProcessPoolExecutor

        with ProcessPoolExecutor(
            max_workers=min(len(jobs), os.cpu_count() or 8)
        ) as pool:
            list(pool.map(_write_corpus_file, jobs))
    else:
        _write_corpus_file(jobs[0])
    return [job[0] for job in jobs]


def measure_extract(spark, n_pages: int, cores: int) -> dict:
    """Generate a synthetic WAT corpus, run extract (+compact), return
    the measurement dict. ``spark`` is the caller's session (profile_extract.py
    passes its own); ``cores`` sets the file count (one gzip file per
    core, written to a tempdir) and scales the pages/min/core figure.

    Warmup: three throwaway passes. The first triggers Janino codegen
    and queues HotSpot C2 compilation of the big generated methods; the
    later ones let C2 finish replacing interpreted frames. The timed pass
    then reflects steady-state throughput — the regime that matters for
    a 90k-file archive import that runs for hours (the reference's
    ~30 s/WAT baseline is equally sustained-regime,
    cmd/importer/main.go:332 logs per-file times mid-run)."""
    work = tempfile.mkdtemp(prefix="watbench-")
    try:
        paths = write_corpus(n_pages, max(cores, 1), work)
        links = extract_links(read_wat_pages(spark, paths))
        for _ in range(3):
            links.count()
        # warm the materialized plan too (different generated code: the
        # full projection + noop sink)
        links.write.format("noop").mode("overwrite").save()

        # min-of-2 timed passes, same policy as bench.py's query loop:
        # the first timed pass in a fresh JVM can still carry tail-end
        # C2 compilation, and the warmup passes leave dead blocks whose
        # collection lands on whichever pass runs first. A GC hint
        # before timing plus taking the minimum isolates the
        # sustained-regime number both claims cite.
        spark.sparkContext._jvm.System.gc()
        t_extract, n_links = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            n_links = links.count()
            t_extract = min(t_extract, time.perf_counter() - t0)

        # materialized pass — count() on extract_links stops at the A2
        # dedup aggregate's grouping keys, so ColumnPruning drops the
        # non-key output columns (text scrub, subdomain, flags) AND the
        # JSON fields feeding them; the reference's parse loop always
        # produces every field. A noop sink forces the full 14-column
        # row, giving the honest "produce every output column" figure
        # next to the parse+gate one (same count-vs-materialize split
        # bench.py applies to the query catalog).
        spark.sparkContext._jvm.System.gc()
        t_mat = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            links.write.format("noop").mode("overwrite").save()
            t_mat = min(t_mat, time.perf_counter() - t0)

        # same GC hint as the extract loop (the stated min-of-2 policy):
        # without it, compact timings can absorb old-gen collection of
        # the extract passes' dead blocks.
        spark.sparkContext._jvm.System.gc()
        t_compact, n_compact = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            n_compact = compact_segment(links).count()
            t_compact = min(t_compact, time.perf_counter() - t0)

        pages_min_core = n_pages / (t_extract / 60) / cores
        return {
            "metric": "extract_pages_per_min_per_core",
            "value": round(pages_min_core),
            "unit": "pages/min/core",
            "n_pages": n_pages,
            "cores": cores,
            "extract_sec": round(t_extract, 2),
            "materialize_sec": round(t_mat, 2),
            "materialized_pages_per_min_per_core": round(
                n_pages / (t_mat / 60) / cores
            ),
            "compact_sec": round(t_compact, 2),
            "links_out": n_links,
            "compacted_out": n_compact,
            "reference_baseline": "300000 pages/min/thread (README.md:8)",
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    spark = get_spark(
        app_name="extract_bench", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    print(json.dumps(measure_extract(spark, n_pages, cores)))
    spark.stop()


if __name__ == "__main__":
    main()
