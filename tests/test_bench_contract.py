"""The driver records bench.py's single stdout JSON line with a
bounded tail capture — round 3's 84-entry inline form overflowed it
and the round lost its headline artifact (`BENCH_r03.json` parsed:
null). Pin the line's shape without running Spark: build the same
`out` dict main() prints, with worst-case float widths for every
registry entry, and assert it stays one parseable line comfortably
under the observed capture bound."""

from __future__ import annotations

import json

from globallinks_spark.queries import REGISTRY


def test_bench_line_fits_driver_capture():
    import bench

    out = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        # worst-case width: every timing printed at full rounding
        "queries": {name: 999.999 for name in REGISTRY},
        "sf": 0.1,
        "detail": "BENCH_DETAIL.json",
        "extract_pages_per_min_per_core": 999999,
        "extract_raw_median_pages_per_min_per_core": 999999,
        "extract_runs_pages_per_min_per_core": [999999] * bench.EXTRACT_RUNS,
    }
    line = json.dumps(out)
    assert "\n" not in line
    assert json.loads(line)["queries"]  # round-trips
    # r02's ~1.5k-char 48-entry line parsed; r03's ~2.6k-char 84-entry
    # line did not. Stay under 2,000 with margin.
    assert len(line) < 2000, f"bench line grew to {len(line)} chars"


def _mock_runs(monkeypatch, values):
    """Feed _fresh_jvm_extract a fixed raw-rate sample (None = a failed
    launch)."""
    import bench

    runs = iter([
        None if v is None else {"value": v, "extract_sec": 1.0}
        for v in values
    ])
    monkeypatch.setattr(bench, "_fresh_jvm_extract_once",
                        lambda n, c: next(runs))


def test_extract_fixed_runs_best_and_median(monkeypatch):
    """The fresh-JVM policy is a FIXED run count (no resample-until-fast
    bias) with every run recorded: ``value`` is the best run and
    ``value_raw_median`` the plain median of the recorded runs. A
    failed launch is not replaced by another."""
    import bench

    raws = [300_000, 150_000, 100_000, 200_000, 75_000]
    calls = []
    runs = iter([{"value": v, "extract_sec": 1.0} for v in raws])
    monkeypatch.setattr(
        bench, "_fresh_jvm_extract_once",
        lambda n, c: calls.append(1) or next(runs),
    )
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert len(calls) == bench.EXTRACT_RUNS == 5
    assert got["value"] == 300_000
    assert got["runs_pages_per_min_per_core"] == raws
    assert got["value_raw_median"] == 150_000
    assert "runs_budget_clipped" not in got

    # a run 3.4x below its neighbours still counts in the median, and
    # failed launches are simply absent from the record
    _mock_runs(monkeypatch, [260_000, None, 270_000, 77_000, 250_000])
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert got["runs_pages_per_min_per_core"] == \
        [260_000, 270_000, 77_000, 250_000]
    assert got["value"] == 270_000
    assert got["value_raw_median"] == 255_000


def test_diagnostics_budgets():
    """r12 verdict #1: both driver bench runs timed out (rc 124) inside
    the diagnostics AFTER all 50 queries finished. Every diagnostic is
    wall-budgeted, with each budget several times its quiet-host cost
    (one fresh-JVM run ≈ 35 s quiet, the rows pass ≈ 30 s), so a quiet
    run never clips and a loaded run degrades to fewer samples instead
    of a dead round."""
    import bench

    assert bench.EXTRACT_SUBPROC_TIMEOUT_SEC == 180
    assert bench.EXTRACT_SECTION_BUDGET_SEC == 360
    assert bench.ROWS_BUDGET_SEC == 120
    # the per-subprocess timeout is the function's default
    import inspect

    sig = inspect.signature(bench._fresh_jvm_extract_once)
    assert sig.parameters["timeout_sec"].default == \
        bench.EXTRACT_SUBPROC_TIMEOUT_SEC


def test_extract_section_budget_clips_remaining_runs(monkeypatch):
    """Once the fresh-JVM extract section has spent its wall budget,
    the remaining launches are skipped and the clipping is recorded in
    the artifact; the median reads the runs actually taken."""
    import bench

    _mock_runs(monkeypatch, [100_000] * 5)
    ticks = iter([0.0, 200.0, 400.0, 600.0, 800.0, 1000.0])
    got = bench._fresh_jvm_extract(
        n_pages=1000, cores=8, budget_sec=360.0, _clock=lambda: next(ticks)
    )
    # t_section=0; run 0 unconditional; before run 1 clock=200 (ok);
    # before run 2 clock=400 > 360 → clipped
    assert got["runs_pages_per_min_per_core"] == [100_000, 100_000]
    assert got["runs_budget_clipped"] == 3
    assert "budget" in got["runs_budget_note"]
    # an unclipped session records no clipping fields
    _mock_runs(monkeypatch, [100_000] * 5)
    got = bench._fresh_jvm_extract(n_pages=1000, cores=8)
    assert "runs_budget_clipped" not in got


def test_contract_line_prints_before_diagnostics():
    """r12 verdict #1 pin: main() prints the headline JSON immediately
    after the query loop — before the rows pass, the extract runs and
    the sidecar write — and re-prints the enriched line as the final
    statement, so a mid-diagnostics kill can never erase the headline."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    early = src.index("print(json.dumps(out), flush=True)")
    assert early < src.index("rows[name] = spec.fn")
    assert early < src.index("_fresh_jvm_extract(")
    assert early < src.index("json.dump(detail")
    # the enriched re-print is the last stdout print in main()
    final = src.rindex("print(json.dumps(out), flush=True)")
    assert final > src.index("json.dump(detail")


def test_registry_stays_at_fifty():
    # adding a 51st entry silently drops one from the driver's
    # correctness suite AND lengthens the bench line — both gates live
    # here and in tests/test_suites.py
    assert len(REGISTRY) == 50


def test_fresh_jvm_extract_returns_none_when_all_runs_fail(monkeypatch):
    import bench

    monkeypatch.setattr(bench, "_fresh_jvm_extract_once",
                        lambda n, c, timeout_sec=900: None)
    assert bench._fresh_jvm_extract(n_pages=1000, cores=8) is None
