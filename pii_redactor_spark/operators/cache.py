"""Cache lifecycle for operator-internal ``persist()`` calls.

Several operators persist an intermediate DataFrame because a self-join
or iterative loop would otherwise recompute it (LSH band tables, shingle
sets, CC labels). Those persists must outlive the operator function —
the returned DataFrame is lazy and the caches are hit at action time —
so the operator cannot unpersist them itself. Round-1 verdict: they
leaked storage memory across repeated calls in a long-lived session.

Contract: operators register every persist here; callers (or tests/
benchmarks running operators in a loop) call :func:`release_caches`
after consuming the results. ``session.get_spark`` sessions are
short-lived in jobs, so the registry is process-global and idempotent —
releasing twice or releasing an already-unpersisted frame is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ACTIVE: list[DataFrame] = []


def registered_persist(df: DataFrame) -> DataFrame:
    """persist() + track for later release."""
    df = df.persist()
    _ACTIVE.append(df)
    return df


def register(df: DataFrame) -> DataFrame:
    """Track an already-persisted DataFrame for later release."""
    _ACTIVE.append(df)
    return df


def unpersist_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint`` DataFrame's storage.

    ``df.unpersist()`` is a no-op for checkpoints (the storage belongs to
    the internal LogicalRDD, not the cache manager), so this unpersists
    that RDD through py4j. After release the DataFrame CANNOT be
    re-executed (checkpointed lineage is truncated by design)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class _LocalCheckpointHandle:
    """Release handle for a filled ``localCheckpoint`` DataFrame — the
    release_caches contract already requires results to be fully
    consumed first."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self) -> None:
        unpersist_checkpoint(self._df)


def register_local_checkpoint(df: DataFrame) -> DataFrame:
    """Track a filled localCheckpoint for release via release_caches."""
    _ACTIVE.append(_LocalCheckpointHandle(df))  # duck-typed .unpersist()
    return df


def release_caches() -> int:
    """Unpersist every registered cache (blocking=False). Returns the
    number of handles released."""
    n = 0
    while _ACTIVE:
        df = _ACTIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
