"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

# a ContextVar, not a module global: one thread's audit block leaves
# plans built on other threads materialized
_auditing: ContextVar[bool] = ContextVar("fabrix_plan_audit", default=False)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input so CPU-heavy per-row work (shingling,
    hashing, vector math) uses every core.

    Small parquet files are a single row-group → one input split → the
    whole explode/hash chain runs on one task, no matter how many
    executors exist. At real scale tables arrive with thousands of
    splits and this is a no-op (we only scatter when the input has
    fewer partitions than the target), so the extra shuffle exists
    exactly when it is cheap and never when it would hurt.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # plans that cannot cheaply expose partitioning
        return df
    if current >= target:
        return df
    return df.repartition(target)


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """The engine's one materialization point: ``localCheckpoint``.

    ``eager=True`` runs the job now, so every later consumer reads the
    stored blocks instead of re-executing ``df``'s subtree, and the
    result's LogicalRDD carries computed stats (size-joins stay
    broadcast; iterative loops keep an O(1) lineage). ``eager=False``
    is a lazy LINEAGE BARRIER: nothing runs until the first action,
    but Catalyst can no longer push later projections or filters
    beneath it (the fuzzy verify stage's repartition-then-DP shape).

    Inside :func:`plan_audit` it returns ``df`` unchanged and runs no
    job, so plan tooling sees the whole lineage."""
    if _auditing.get():
        return df
    return df.localCheckpoint(eager=eager)


@contextmanager
def plan_audit() -> Iterator[None]:
    """Build plans fully lazy: :func:`materialize` is the identity
    while the block is active. For plan inspection only — executing a
    plan built here re-runs every multi-consumer subtree per consumer,
    and iterative operators nest their whole per-round lineage. Code
    that runs actions while it builds (a convergence loop's per-round
    count, a driver loop that writes a table and reads it again) can
    therefore grow exponentially or read files its own writes
    replaced; build such code outside the block."""
    token = _auditing.set(True)
    try:
        yield
    finally:
        _auditing.reset(token)
