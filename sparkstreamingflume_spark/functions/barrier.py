"""Optimizer barrier: evaluate an expensive expression ONCE across a
filter + projection.

Catalyst's subexpression elimination exists only inside a single
``ProjectExec``: a predicate over a projected alias is inlined by
``PushPredicateThroughNonJoin`` (re-evaluating the aliased expression in
the filter), and ``CollapseProject`` merges adjacent projections
(re-evaluating it per consumer). When the expression is expensive (a
44-way split of a wide string; a regex over a long payload), staging it
as a column only helps if the optimizer keeps the staging projection
intact.

``stage_columns`` pins the staging projection by adding one
non-deterministic column (``spark_partition_id``): both rules refuse to
cross a non-deterministic projection. ``spark_partition_id`` rather than
``monotonically_increasing_id``, because streaming DataFrames reject the
latter and the one-pass CDR router (streaming/pipeline.py) stages its
split the same way on micro-batches. The subtlety: a barrier
column nothing reads is REMOVED by ``ColumnPruning`` before either rule
runs, making the projection deterministic again — so the downstream
filter must reference it. ``anchor(pred)`` conjoins the always-true
``BARRIER_COL >= 0`` to the predicate: pruning keeps the column,
``PushPredicateThroughNonJoin`` sees a non-deterministic projection and
leaves the filter above it, and the staged columns are computed exactly
once. This encodes optimizer-version-specific behavior on purpose —
tests/test_contract.py asserts the resulting plan shape
(q_gprs_pipeline: exactly 4 md5 calls and 1 split), so a Spark upgrade
that changes either rule fails loudly instead of silently re-expanding
the work.

Measured on q_gprs_pipeline at sf0.1: staged-once 3.7 s vs 5.0 s for
the best barrier-free form (cheap width predicate pushed through the
line synthesis) and ~30x vs the naive mask→rejoin→resplit chain.
Trade-off: the barrier also blocks predicate pushdown to the scan —
use it only when the filter is over a SYNTHESIZED column (as here,
where the predicate reads the staged array itself), never to gate
scan-prunable base columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BARRIER_COL = "_stage_barrier"


def stage_columns(df: DataFrame, keep: list[str], **staged: F.Column) -> DataFrame:
    """Project ``keep`` + ``staged`` columns behind a pushdown barrier.

    The returned frame computes each staged expression exactly once per
    row; downstream filters must go through :func:`anchor` (else column
    pruning deletes the barrier and pushdown re-expands the staged
    expressions), and the final projection just selects around
    ``BARRIER_COL``.
    """
    return df.select(
        *keep,
        *[expr.alias(name) for name, expr in staged.items()],
        F.spark_partition_id().alias(BARRIER_COL),
    )


def anchor(pred: F.Column) -> F.Column:
    """Anchor a filter predicate to the barrier column (always true
    conjunct) so the barrier survives column pruning and the filter
    stays above the staging projection."""
    return pred & (F.col(BARRIER_COL) >= 0)
