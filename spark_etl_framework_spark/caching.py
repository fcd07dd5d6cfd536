"""Deterministic lifecycle for intra-query persisted relations.

Several queries/operators persist narrow multiply-consumed relations
(LSH candidate pairs, hashed shingle keys, tf term counts, trained PQ
centroids) so a scan+tokenize lineage runs once instead of once per
consumer. ``DataFrame.persist`` alone leaks by default: the JVM keeps
the blocks registered until ``unpersist`` or until ContextCleaner's
weak references fire after a driver GC — so a long session sweeping
hundreds of queries accumulates storage blocks between GCs (the round-4
ADVICE finding on ``pq_codes``).

:func:`scoped_persist` fixes the lifecycle without giving up laziness:
the persist is recorded in a session-wide registry, and
:func:`release_scoped` unpersists everything recorded so far. The query
registry's ``register`` wrapper calls ``release_scoped`` at the START of
every query invocation, so one query's cache lives exactly until the
next query begins — by which point every sequential consumer (the
driver, bench.py, tools/check_correctness.py, a user loop) has
materialized the previous result. Storage growth is bounded by ONE
query's working set instead of the whole sweep.

Interleaving safety differs by mechanism. ``unpersist`` on a persisted
DataFrame is always semantically safe (lineage recomputes), so those are
released every boundary. A ``localCheckpoint`` RDD has TRUNCATED lineage
— once its blocks are dropped, a still-unmaterialized plan referencing
it fails with "checkpoint block not found" rather than recomputing. So
checkpointed RDDs are released one generation LATE (generation N-2 at
the N-th boundary): a caller that builds query A's DataFrame, invokes
query B, and only then collects A stays safe; only a plan held across
TWO subsequent query invocations can lose its checkpoint, and nothing
in the repo (driver, bench, checker) holds plans that long.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []
#: JVM RDD handles captured by scoped_localcheckpoint: localCheckpoint
#: registers its cached RDD in the persistent-RDD registry, and unlike a
#: DataFrame persist there is no public unpersist on the result — so the
#: handle itself is recorded for release. Two generations: the current
#: query's checkpoints survive ONE release_scoped boundary (truncated
#: lineage can't recompute — see module docstring).
_SCOPED_RDDS: list = []
_SCOPED_RDDS_PREV: list = []


def scoped_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` and record it for the next :func:`release_scoped`."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _SCOPED.append(df)
    return df


@contextmanager
def persisted(df: DataFrame, storage_level=None):
    """Persist ``df`` for the ``with`` block and unpersist it on exit,
    error or not. The LOCAL lifecycle, for relations whose every
    consumer materializes inside the block (DML staging, an emptiness
    check before a write, an iterative loop): nothing waits for a query
    boundary, so it is also right outside registered queries (pipeline
    actors, tests), where a :func:`scoped_persist` would hold its blocks
    until the next registered query starts."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def scoped_localcheckpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` with the same scoped lifecycle as
    :func:`scoped_persist`: the checkpoint's cached RDD (which otherwise
    lives in the JVM registry until a driver GC) is captured by diffing
    the persistent-RDD registry around the checkpoint and released on the
    next :func:`release_scoped`. Used by the iterative operators
    (pagerank edges, BPE rounds, PQ Lloyd rounds) whose per-round state
    must materialize to stop lineage doubling but must not outlive the
    query."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=eager)
    after = jsc.getPersistentRDDs()
    for rid in after.keySet().toArray():
        if rid not in before:
            _SCOPED_RDDS.append(after.get(rid))
    return out


@contextmanager
def scoped_region():
    """Release, at region exit, exactly the scoped persists/checkpoints
    created INSIDE the region — for callers (pipeline index-builder
    actors) that fully materialize every output before returning and run
    OUTSIDE the query registry, where nothing else would release their
    training state until the next registered-query invocation. An
    enclosing query's scoped entries are untouched: only the suffix of
    the registries appended within the region is released. Safe eagerly —
    including for checkpointed RDDs — because the region's outputs are
    already written; no live plan references the region's blocks."""
    n_df = len(_SCOPED)
    n_rdd = len(_SCOPED_RDDS)
    try:
        yield
    finally:
        for df in _SCOPED[n_df:]:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
        del _SCOPED[n_df:]
        for rdd in _SCOPED_RDDS[n_rdd:]:
            try:
                rdd.unpersist(False)
            except Exception:
                pass
        del _SCOPED_RDDS[n_rdd:]


def release_scoped() -> int:
    """Release scoped relations; returns how many were unpersisted.

    Non-blocking: block removal proceeds asynchronously on the JVM side
    while the caller's next query starts planning. DataFrame persists are
    released immediately (unpersist is recompute-safe). Checkpointed RDDs
    are released one generation LATE: the previous query's checkpoints go
    now, the current query's move to the previous slot — so a caller that
    builds query A's (checkpoint-backed) DataFrame, invokes query B, and
    only then collects A never hits "checkpoint block not found".
    """
    n = 0
    while _SCOPED:
        df = _SCOPED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            # a dead session's DataFrame — nothing left to free
            pass
    while _SCOPED_RDDS_PREV:
        rdd = _SCOPED_RDDS_PREV.pop()
        try:
            rdd.unpersist(False)
            n += 1
        except Exception:
            pass
    _SCOPED_RDDS_PREV.extend(_SCOPED_RDDS)
    _SCOPED_RDDS.clear()
    return n
