"""Driver-side job overlap (guide §2.6): submit independent Spark
actions from a small thread pool so one job's task tail back-fills with
the next job's tasks.  Shared by the postings-layout writer and the
composed ingest/erase/compact lifecycle operators."""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor, as_completed


def run_concurrent(jobs: Sequence[Callable[[], object]]) -> list[object]:
    """Run ``jobs`` concurrently and wait for ALL of them.

    Unlike the bare ``fut.result()``-in-submission-order loop this
    replaced (ADVICE r12), every job runs to completion and every
    failure is surfaced: a multi-write failure raises ONE error naming
    each failed job instead of whichever happened to be submitted
    first, so a torn multi-root commit is diagnosable from the message.

    ``KeyboardInterrupt`` and ``SystemExit`` — raised by a job or while
    waiting — propagate at once and unwrapped: queued jobs are cancelled
    and running ones are not waited for.
    """
    if not jobs:
        return []
    if len(jobs) == 1:
        return [jobs[0]()]
    pool = ThreadPoolExecutor(max_workers=len(jobs))
    results: list[object] = [None] * len(jobs)
    errors: list[tuple[int, Exception]] = []
    try:
        futs = {pool.submit(j): i for i, j in enumerate(jobs)}
        for fut in as_completed(futs):
            exc = fut.exception()
            if exc is None:
                results[futs[fut]] = fut.result()
            elif isinstance(exc, Exception):
                errors.append((futs[fut], exc))
            else:
                raise exc
    except BaseException:
        pool.shutdown(wait=False, cancel_futures=True)
        raise
    pool.shutdown()
    if errors:
        errors.sort(key=lambda e: e[0])
        if len(errors) == 1:
            raise errors[0][1]
        summary = "; ".join(
            f"job[{i}]: {type(e).__name__}: {e}" for i, e in errors
        )
        raise RuntimeError(
            f"{len(errors)}/{len(jobs)} pooled jobs failed — {summary}"
        ) from errors[0][1]
    return results
