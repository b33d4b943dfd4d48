"""Physical-plan assertions.

A plan that is correct but mis-shaped (full scan instead of pruned read,
sort-merge join where a broadcast fits, Python eval in the hot path)
passes every value test and then dies at 100 TB. These helpers make the
desired physical properties testable so regressions in plan shape fail
CI like value regressions do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class PlanIntrospectionUnavailableError(RuntimeError):
    """The JVM query-execution surface could not be reached through
    this PySpark build's private bridge."""


def _query_execution(df: DataFrame):
    """Single guarded access to the private ``_jdf`` bridge (the
    sketches.py pattern): plan introspection has no public PySpark
    API — even ``df.explain()`` goes through the same bridge — so if a
    future build moves it, every caller gets ONE clear error naming
    this module instead of an AttributeError deep inside an assertion
    helper or the explain CLI."""
    try:
        return df._jdf.queryExecution()
    except Exception as exc:  # bridge moved / py4j surface changed
        raise PlanIntrospectionUnavailableError(
            "cannot reach JVM QueryExecution via _jdf on this PySpark "
            "build; update globallinks_spark.plans.explain"
        ) from exc


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    qe = _query_execution(df)
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            qe, mode
        )
    except PlanIntrospectionUnavailableError:
        raise
    except Exception as exc:
        raise PlanIntrospectionUnavailableError(
            "cannot render explainString via the JVM bridge on this "
            "PySpark build; update globallinks_spark.plans.explain"
        ) from exc


def assert_read_schema_only(df: DataFrame, *columns: str) -> None:
    """The parquet ReadSchema must contain exactly these columns —
    column pruning reached the scan."""
    plan = plan_string(df)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, f"no parquet ReadSchema in plan:\n{plan}"
    read_cols = {
        c.split(":")[0].strip() for s in schemas for c in s.split(",") if c
    }
    assert read_cols == set(columns), (
        f"scan reads {sorted(read_cols)}, wanted {sorted(columns)}"
    )


def count_broadcast_joins(df: DataFrame) -> int:
    return plan_string(df).count("BroadcastHashJoin")


def count_shuffles(df: DataFrame) -> int:
    """Exchanges in the plan (reused exchanges counted once)."""
    plan = plan_string(df)
    return plan.count("Exchange ") - plan.count("ReusedExchange")


def audit(df: DataFrame) -> list[dict]:
    """Scan the physical plan for the anti-patterns that pass every
    value test at sf0.01 and then die at 100 TB. Returns one finding
    dict per hit: {pattern, severity, detail, advice} — empty list =
    clean. Pure plan-string inspection (no job runs), so it is cheap
    enough to gate CI on: the repo's own registry is audited in
    tests/test_plans.py and must stay free of `error`-severity hits.

    Patterns:
    - CartesianProduct            error  unbounded pair blowup
    - BroadcastNestedLoopJoin     warn   O(n·m) compare; fine only when
                                         one side is provably tiny
    - BatchEvalPython             error  row-at-a-time Python UDF in
                                         the plan (Arrow-less transfer)
    - Exchange SinglePartition    warn   a stage collapses to one task;
                                         legitimate under a global
                                         limit/sort-tail, fatal mid-plan
    - SortMergeJoin               info   broadcast/bucket candidates
    - ShuffleExchange count       info   reported for context
    """
    plan = plan_string(df, "simple")
    findings: list[dict] = []
    if "CartesianProduct" in plan:
        findings.append({
            "pattern": "CartesianProduct", "severity": "error",
            "detail": "unconditioned cross join in the physical plan",
            "advice": "add an equi-join key, or broadcast a provably "
                      "tiny side explicitly",
        })
    if "BroadcastNestedLoopJoin" in plan:
        findings.append({
            "pattern": "BroadcastNestedLoopJoin", "severity": "warn",
            "detail": "non-equi join compares every row pair against "
                      "the broadcast side",
            "advice": "bucket the range/interval key into an equi-join "
                      "prefilter (operators/rangejoin.py pattern)",
        })
    if "BatchEvalPython" in plan:
        findings.append({
            "pattern": "BatchEvalPython", "severity": "error",
            "detail": "row-at-a-time Python UDF (pickled row transfer)",
            "advice": "use built-in expressions, or an Arrow-batched "
                      "pandas UDF (ArrowEvalPython) if Python is "
                      "unavoidable",
        })
    n_single = plan.count("Exchange SinglePartition")
    if n_single:
        findings.append({
            "pattern": "Exchange SinglePartition", "severity": "warn",
            "detail": f"{n_single} single-partition exchange(s): a "
                      "stage runs as ONE task",
            "advice": "legitimate for a global scalar/limit tail or a "
                      "tiny offsets table (packing.py pins exactly one); "
                      "mid-plan on big data it is the scale killer",
        })
    n_smj = plan.count("SortMergeJoin")
    if n_smj:
        findings.append({
            "pattern": "SortMergeJoin", "severity": "info",
            "detail": f"{n_smj} sort-merge join(s): both sides shuffle "
                      "AND sort on the join key",
            "advice": "correct for two big sides; if one side is small "
                      "or pre-filtered, broadcast() it (check estimates "
                      "with explain mode 'cost'), or co-locate both "
                      "sides with bucketBy to drop the exchanges "
                      "(sources/bucketing.py)",
        })
    n_shuffle = plan.count("Exchange ") - plan.count("ReusedExchange")
    findings.append({
        "pattern": "shuffle-count", "severity": "info",
        "detail": f"{n_shuffle} exchange(s) in the plan",
        "advice": "each is a full network/disk round of its input; "
                  "check keys reuse an existing partitioning",
    })
    return findings


def codegen_subtrees(df: DataFrame) -> int | None:
    """Number of WholeStageCodegen subtrees, or None when AQE defers
    stage planning to runtime (the pre-execution adaptive plan always
    reports 0 — codegen happens per query stage). For a definitive
    check, build the plan in a session with
    ``spark.sql.adaptive.enabled=false``."""
    s = plan_string(df, "codegen")
    import re

    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", s)
    n = int(m.group(1)) if m else 0
    if n == 0 and "AdaptiveSparkPlan" in plan_string(df, "simple"):
        return None
    return n
