"""Benchmark harness for the 50-entry query registry.

Run: ``python bench.py``. It reads the parquet tables under
$SPARK_GRAFT_SF_DIR and prints JSON on stdout.

Contract. Right after the timed query loop, before any diagnostic, it
prints one line:

{"metric": "headline_queries_total", "value": total_sec, "unit": "sec",
 "queries": {entry: best_sec, ...}, "sf": ..., "detail": "BENCH_DETAIL.json"}

A run that finishes its diagnostics prints the same line again as the
last stdout line, with three extract fields added when a fresh-JVM
extract run succeeded: ``extract_pages_per_min_per_core`` (best run),
``extract_raw_median_pages_per_min_per_core`` (median of the recorded
runs) and ``extract_runs_pages_per_min_per_core`` (every run). Both
prints carry the same query timings, so a parser may read either; a
kill during the diagnostics still leaves the first. Everything else
(row counts, per-run samples, spread, the extract record, budget
notes, the policies below) goes to the BENCH_DETAIL.json sidecar, so
the stdout line stays short enough for a bounded tail capture.

The timed set is the correctness registry
(globallinks_spark.queries.REGISTRY): 50 entries covering every
cataloged operator; consolidated suites time their members back to
back in one entry (see queries_suites.py).

Warmup. Before timing, every entry runs once at sf0.001 (same schemas)
to compile its generated code. Janino and HotSpot C2 costs are per
generated method, not per dataset, and a cold first run charges 5-10 s
of compilation to whichever entry first hits a kernel. A cluster
executor compiles a stage once and then streams data through it, so
the steady-state time is the one that predicts large-scale cost. The
timed runs still pay every data-dependent cost at the target scale.
The cache is cleared after the warmup.

Timing. Each entry materializes through the noop sink, which consumes
every output column; ``count()`` would let ColumnPruning drop
unreferenced aggregate functions (an exact-percentile query timed
0.2 s under count() and 11 s materialized). Each entry runs twice, and
a third time when the best of two exceeds 3 s; the minimum is
recorded. A JVM GC hint precedes and ``clearCache`` follows every run,
so no run inherits another's cached blocks or old-gen garbage. Per-run
samples land in the sidecar's ``runs_sec``, max/min in ``spread``.

Extract. ``bench_extract.py`` runs EXTRACT_RUNS times, each in its own
subprocess JVM: the reference's 300k pages/min/thread figure is a
fresh-process number. The run count is fixed and every run is
recorded, so resampling never favours one direction.
SPARK_GRAFT_EXTRACT=0 skips it; SPARK_GRAFT_MEMBER_DETAIL=1 also times
every suite member under the same timing policy.

Every diagnostic after the contract line has a wall budget, so a slow
host yields fewer diagnostic samples, never a missing headline.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

from globallinks_spark.queries import REGISTRY
from globallinks_spark.session import get_spark

_HERE = os.path.dirname(os.path.abspath(__file__))
DETAIL_PATH = os.path.join(_HERE, "BENCH_DETAIL.json")

# Wall budgets for the diagnostics after the contract line, each several
# times its quiet-host cost (one fresh-JVM extract run ~35 s, the rows
# pass ~30 s). Pinned by tests/test_bench_contract.py.
EXTRACT_SUBPROC_TIMEOUT_SEC = 180   # per fresh-JVM subprocess
EXTRACT_SECTION_BUDGET_SEC = 360    # whole fresh-JVM extract section
ROWS_BUDGET_SEC = 120               # post-contract row-count pass
EXTRACT_RUNS = 5


def _fresh_jvm_extract_once(
    n_pages: int, cores: int, timeout_sec: int = EXTRACT_SUBPROC_TIMEOUT_SEC,
) -> dict | None:
    """One bench_extract.py subprocess (its own JVM); parsed JSON line."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(_HERE, "bench_extract.py"),
             str(n_pages), str(cores)],
            capture_output=True, text=True, timeout=timeout_sec, cwd=_HERE,
        )
    except (OSError, subprocess.TimeoutExpired) as exc:
        print(f"# fresh-JVM extract failed to launch: {exc}", file=sys.stderr)
        return None
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    print(f"# fresh-JVM extract produced no JSON (rc={proc.returncode}); "
          f"stderr tail: {proc.stderr[-500:]}", file=sys.stderr)
    return None


def _fresh_jvm_extract(
    n_pages: int = 100_000,
    cores: int = 8,
    budget_sec: float = EXTRACT_SECTION_BUDGET_SEC,
    _clock=time.monotonic,
) -> dict | None:
    """Up to EXTRACT_RUNS fresh-subprocess runs of the extract kernel,
    every successful one recorded. Returns the best run's record with
    ``runs_pages_per_min_per_core`` (all runs) and ``value_raw_median``
    (their median) added, or None when no run succeeded. Once the
    section has spent ``budget_sec``, the remaining launches are
    skipped and the record says how many."""
    results: list[dict] = []
    skipped = 0
    t_section = _clock()
    for i in range(EXTRACT_RUNS):
        if i > 0 and _clock() - t_section > budget_sec:
            skipped = EXTRACT_RUNS - i
            print(f"# extract section budget ({budget_sec:.0f}s) "
                  f"exhausted after {i} runs; skipping the remaining "
                  f"{skipped} fresh-JVM runs", file=sys.stderr)
            break
        r = _fresh_jvm_extract_once(n_pages, cores)
        if r is not None:
            results.append(r)
            print(f"# fresh-JVM extract run: {r['value']} "
                  f"(extract_sec {r['extract_sec']})", file=sys.stderr)
    if not results:
        return None
    raws = [r["value"] for r in results]
    best = dict(max(results, key=lambda r: r["value"]))
    best["runs_pages_per_min_per_core"] = raws
    best["runs_extract_sec"] = [r.get("extract_sec") for r in results]
    best["value_raw_median"] = round(statistics.median(raws))
    if skipped:
        best["runs_budget_clipped"] = skipped
        best["runs_budget_note"] = (
            f"section wall budget {budget_sec:.0f}s exhausted; "
            f"{skipped} of {EXTRACT_RUNS} fresh-JVM runs skipped; the "
            f"median reads the runs actually taken"
        )
    return best


def _materialize(df) -> None:
    """Evaluate EVERY output column (noop sink). See module docstring —
    count() lets ColumnPruning skip unreferenced aggregate functions."""
    df.write.format("noop").mode("overwrite").save()


def _timed_runs(spark, build) -> list[float]:
    """Wall seconds of each materialization of ``build()``: two runs,
    and a third when the best of two exceeds 3 s (see module
    docstring)."""
    samples: list[float] = []
    while True:
        # GC hint outside the timed window: dead broadcast/cache blocks
        # from earlier entries otherwise get collected inside a later
        # one (measured: one query 1.8 s alone, 5.8 s late in a run)
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _materialize(build())
        samples.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
        if len(samples) >= 3 or (len(samples) == 2 and min(samples) <= 3.0):
            return samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = get_spark(app_name="globallinks_bench")

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name, spec in REGISTRY.items():
        try:
            _materialize(spec.fn(spark, warm_dir))
        except Exception as exc:  # never let warmup sink the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    # leftover warmup storage blocks would evict the timed runs' persists
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    runs_sec: dict[str, list[float]] = {}
    spread: dict[str, float] = {}
    for name, spec in REGISTRY.items():
        samples = _timed_runs(spark, lambda: spec.fn(spark, sf_dir))
        timings[name] = round(min(samples), 3)
        runs_sec[name] = [round(s, 3) for s in samples]
        spread[name] = round(max(samples) / min(samples), 2)
        print(f"# {name}: {timings[name]:.3f}s (runs {runs_sec[name]})",
              file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # THE CONTRACT LINE, before any diagnostic: a late kill must never
    # erase the headline
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(out), flush=True)

    # everything below is diagnostics: budget-bounded, and a failure in
    # any of it must never take the contract line with it
    diag_t0 = time.monotonic()
    diag_notes: list[str] = []

    rows: dict[str, int] = {}
    for name, spec in REGISTRY.items():
        if time.monotonic() - diag_t0 > ROWS_BUDGET_SEC:
            diag_notes.append(
                f"rows pass budget-clipped after {len(rows)} of "
                f"{len(REGISTRY)} entries ({ROWS_BUDGET_SEC}s)"
            )
            break
        try:
            rows[name] = spec.fn(spark, sf_dir).count()
        except Exception as exc:
            print(f"# rows count for {name} failed: {exc}", file=sys.stderr)

    # Fixed 8-file, 8-core shape: gzip is unsplittable, so exactly 8
    # tasks run and dividing by 8 is exact on >= 8 threads; with fewer
    # threads the tasks timeshare and the figure under-reports.
    extract = None
    if os.environ.get("SPARK_GRAFT_EXTRACT", "1") != "0":
        extract = _fresh_jvm_extract(n_pages=100_000, cores=8)
        if extract is None:
            diag_notes.append(
                "every fresh-JVM extract run failed (see stderr); the "
                "extract fields are absent"
            )

    members: dict[str, dict[str, float]] = {}
    if os.environ.get("SPARK_GRAFT_MEMBER_DETAIL", "0") == "1":
        from globallinks_spark.queries import FULL_REGISTRY
        from globallinks_spark.queries_suites import suite_members

        for suite, names in suite_members().items():
            members[suite] = {
                m: round(min(_timed_runs(
                    spark, lambda m=m: FULL_REGISTRY[m].fn(spark, sf_dir))), 3)
                for m in names
            }

    detail = {
        "sf": sf,
        "sf_dir": sf_dir,
        "n_queries": len(timings),
        "total_sec": total,
        "queries_sec": timings,
        "rows": rows,
        "runs_sec": runs_sec,
        "spread": spread,
        "diagnostics_notes": diag_notes,
        "contract_order": (
            "the headline JSON line prints right after the query loop, "
            "before the rows pass, the extract runs and this sidecar; a "
            "completed run re-prints it with the extract fields as the "
            "final stdout line"
        ),
        "warmup": f"each query once at {warm_dir} (codegen steady-state)",
        "timing": "min of 2 isolated runs, escalated to min of 3 when "
                  "best-of-2 > 3 s (GC hint before and cache cleared "
                  "after each run); per-run samples in runs_sec, max/min "
                  "ratio in spread",
        "extract_policy": (
            f"{EXTRACT_RUNS} fresh-JVM bench_extract.py runs, each under "
            f"{EXTRACT_SUBPROC_TIMEOUT_SEC}s, the section under "
            f"{EXTRACT_SECTION_BUDGET_SEC}s; value is the best run, "
            f"value_raw_median the median of the recorded runs"
        ),
        "registry": "driver REGISTRY (50 consolidated entries; see "
                    "queries_suites.py for the suite → operator fold)",
    }
    if members:
        detail["suite_members_sec"] = members
    if extract is not None:
        detail["extract"] = extract
    try:
        with open(DETAIL_PATH, "w", encoding="utf-8") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"# sidecar write failed: {exc}", file=sys.stderr)

    if extract is not None:
        out["extract_pages_per_min_per_core"] = extract["value"]
        out["extract_raw_median_pages_per_min_per_core"] = (
            extract["value_raw_median"]
        )
        out["extract_runs_pages_per_min_per_core"] = (
            extract["runs_pages_per_min_per_core"]
        )
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
