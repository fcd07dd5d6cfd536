"""Overlap independent Spark actions from driver threads (guide §2.6).

A DML commit stages several INDEPENDENT relations (change-data files,
rewritten data files, delete coordinates); calling their write actions
sequentially leaves the cluster idle through each job's tail. Spark's
scheduler happily runs jobs submitted from several driver threads at
once — FIFO scheduling means the second job's tasks back-fill executors
freed by the first job's stragglers, exactly the guide's overlap
pattern. Results keep thunk order; the first failure propagates after
every thunk has finished (so no half-submitted job keeps running into a
torn-down caller frame).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor


def run_concurrently(*thunks, cleanup=None):
    """Run the zero-arg callables concurrently; return their results in
    order. With one thunk, call it inline (no pool overhead).

    ``cleanup``: optional per-thunk callables, positionally matching
    ``thunks``. When one thunk raises, siblings that SUCCEEDED have
    already produced side effects the caller will never commit (staged
    data files moved under the table root) — each successful thunk's
    cleanup is invoked with its result before the error propagates, so
    a failed DML leaves no orphaned files behind (round-16 ADVICE).
    Cleanup errors are swallowed: the original failure is the story.
    A ``cleanup`` list of the wrong length raises ``ValueError`` before
    any thunk runs.
    """
    if cleanup is not None and len(cleanup) != len(thunks):
        raise ValueError(
            f"run_concurrently: {len(cleanup)} cleanup callables for "
            f"{len(thunks)} thunks"
        )
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        # wait for ALL before raising: a sibling action must not outlive
        # the caller's try/finally (persist lifecycles) on error paths
        errors = []
        results = []
        for f in futures:
            try:
                results.append(f.result())
            except Exception as e:  # noqa: BLE001 - re-raised below
                errors.append(e)
        if errors:
            for i, f in enumerate(futures):
                if cleanup is None or cleanup[i] is None:
                    continue
                if f.exception() is None:
                    try:
                        cleanup[i](f.result())
                    except Exception:  # noqa: BLE001 - best-effort
                        pass
            raise errors[0]
        return results
