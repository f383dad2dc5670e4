"""Shared operator plumbing helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["scratch_name", "require_absent", "materialize_once"]


def materialize_once(df: DataFrame) -> DataFrame:
    """The engine's multi-consumer materialization seam: operators that
    build a frame read by several downstream branches (unit/hash
    streams, per-group medians, tf working sets, survivor sets)
    materialize it here instead of calling ``localCheckpoint`` inline.
    An eager ``localCheckpoint``: the frame is computed once and its
    lineage cut, with blocks kept executor-local (not replayable on
    executor loss) and freed with the session."""
    return df.localCheckpoint(eager=True)


def scratch_name(base: str, *frames: DataFrame) -> str:
    """A column name starting with ``base`` that collides with no
    column of any input frame — the discipline that keeps an
    operator's internal scratch columns from silently destroying a
    caller's same-named data (the bloom_candidates ``__bit`` clobber,
    ADVICE r10). Deterministic: appends underscores until free."""
    taken = {c for f in frames for c in f.columns}
    name = base
    while name in taken:
        name += "_"
    return name


def require_absent(frame: DataFrame, column: str, operator: str) -> None:
    """Raise when ``column`` — part of the operator's OUTPUT contract,
    so it cannot be renamed away — already exists on the input. A loud
    conflict beats silently overwriting caller data."""
    if column in frame.columns:
        raise ValueError(
            f"{operator}: input already has a {column!r} column, which "
            f"this operator emits as part of its output contract — "
            "rename the input column first"
        )
