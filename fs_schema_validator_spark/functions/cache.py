"""Tracked DataFrame caches: explicit release for operator intermediates.

Operators that must materialize an intermediate twice (e.g. the LSH
candidate set, consumed once for participant ids and once for the score
join) cache it. A bare ``.cache()`` leaks executor storage until the JVM's
ContextCleaner garbage-collects the plan — fine in a notebook, not in a
long-lived job. Operators ``track()`` what they persist, and the caller
releases everything after the consuming action::

    pairs = near_dup_pairs(emb, dim=64).collect()
    cache.release_all()

Validation runs release their own caches instead. A ``ValidationResult``
holds one persisted copy of its violations (filled by the first report
action), the plan's fused projection and the equality screen's bad-key
frame; the bad-key frame is tracked here too, and
``ValidationResult.release()`` frees all three, dropping the tracked frame
with ``release(df)`` so other pipelines' entries stay untouched.
Long-lived callers (streaming batches, services) call
``ValidationResult.release()`` once per run.

At cluster scale the same seam is where you would swap the cache for a
materialized intermediate table between stages.

Scope caveat: the registry is process-global and release_all() unpersists
EVERYTHING tracked — it is built for the serial run-query-then-release
loop (bench, CLI, driver). Interleaved pipelines sharing a session should
release at their own pipeline boundaries only, or materialize candidates
to tables instead; entries do hold references until released, so a
long-lived service that never calls release_all() reintroduces the very
accumulation this module exists to prevent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_tracked: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later release; returns it."""
    _tracked.append(df)
    return df


def release(*dfs: DataFrame) -> None:
    """Unpersist these DataFrames and drop them from the registry."""
    global _tracked
    ids = {id(df) for df in dfs}
    _tracked = [df for df in _tracked if id(df) not in ids]
    for df in dfs:
        df.unpersist()


def release_all() -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    global _tracked
    released = 0
    for df in _tracked:
        try:
            df.unpersist()
            released += 1
        except Exception:  # noqa: BLE001 - session may already be gone
            pass
    _tracked = []
    return released
