"""Expression let-binding for Catalyst.

Column expressions have no local variables: when CollapseProject or
predicate pushdown inlines a derived column, every reference duplicates
the whole expression tree — and each copy is re-evaluated at runtime
(codegen subexpression elimination only dedupes within one operator, and
giant duplicated trees fall out of codegen entirely). For expensive
scalars (``from_json`` of a WAT envelope, URL parses) this turned the
extraction hot path into re-parsing the same JSON hundreds of times per
row (measured: 627 ``from_json`` copies in
one executed plan; 6× wall-clock).

``bind_once`` wraps the expression as ``array(col)[int(mid * 0) + 1]``
with ``mid = monotonically_increasing_id()``: the index is provably 1,
but ``monotonically_increasing_id`` is nondeterministic, nondeterministic
expressions are never constant-folded, and nondeterministic aliases are
exactly what Catalyst refuses to inline or push predicates through.
Downstream operators then reference the column as a plain attribute: one
evaluation per row, at the Project that defines it.

Why ``monotonically_increasing_id`` and not the round-1 ``shuffle``:
``Shuffle`` is CodegenFallback, so every Project containing the barrier
fell out of whole-stage codegen AND lost codegen subexpression
elimination — the barrier cost more than it saved on hot kernels
(measured 1.9 s vs 0.8 s per 1M rows of a Column-tree eTLD+1 kernel).
``mid`` has full codegen support. (A ``rand() > -1`` guard does NOT work either — the optimizer
constant-folds provably-true comparisons on rand's value range.)

The barrier is an optimizer-behavior contract, not an API guarantee: a
Spark upgrade could teach ConstantFolding about ``x * 0``. The executed-
plan probes in tests/test_plans.py (``from_json`` copy count == 1, one
``ArrowEvalPython`` per eTLD+1 column) fail loudly if the barrier
silently vanishes.

Contracts:
- cheap filters that SHOULD reach the storage scan must be applied
  *before* the binding Project — nothing pushes through it.
- expensive multi-reference Column kernels must sit at the TOP LEVEL
  of a Project expression, never under ``when``/``case`` branches:
  codegen subexpression elimination only extracts subtrees on the
  guaranteed-evaluation path, so a branch-wrapped kernel re-computes
  its internals (``split``, ``parse_url``) per reference — measured 10×
  on a Column-tree eTLD+1 kernel. Bind the input column first, then
  compute the kernel over the bound attribute in a second binding
  Project.
- a Python UDF (the eTLD+1 kernel) is bound the same way: behind the
  barrier it runs in one ``ArrowEvalPython`` below the binding Project;
  without it, filter pushdown evaluates it again in the filter that
  reads it.
- ``monotonically_increasing_id`` is rejected inside streaming plans;
  use ``bind_once_stream`` (the shuffle barrier — slower, codegen
  fallback, but streaming-legal) when binding inside a readStream
  transform.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind_once(col: Column) -> Column:
    idx = (F.monotonically_increasing_id() * F.lit(0)).cast("int") + F.lit(1)
    return F.element_at(F.array(col), idx)


def bind_once_stream(col: Column) -> Column:
    """Streaming-safe variant (``Shuffle`` is allowed in streaming plans,
    ``monotonically_increasing_id`` is not). CodegenFallback — only use
    where the batch barrier is rejected."""
    return F.element_at(F.shuffle(F.array(col)), 1)
