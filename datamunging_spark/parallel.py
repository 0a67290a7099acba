"""Concurrent driver-side job submission (optimization guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. When a pipeline step needs two or more INDEPENDENT
materializations (a pair of snapshot checkpoints, two parquet writes to
separate directories), submitting them from a small thread pool lets the
second job's tasks back-fill the executors freed by the first job's
tail — on local mode it additionally amortizes the fixed ~0.1 s/job
scheduling floor. Results are identical by construction: each thunk is
exactly the action the caller would otherwise run back-to-back.

``inheritable_thread_target`` propagates the submitting thread's
job-description/job-group thread-locals onto the pool threads, so bench
and profiler attribution (``setJobDescription`` before query
construction) survives the fan-out.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor


def co_materialize(*thunks, max_workers: int | None = None):
    """Run each zero-arg ``thunk`` concurrently; return their results in
    call order. Raises the first failure (after all threads settle via
    the executor shutdown). Use ONLY for independent actions — thunks
    must not read each other's results. ``max_workers`` caps the pool
    for long thunk lists (the guide's 2-3-jobs-in-flight advice —
    enough to fill task tails, not enough to fight for executors);
    default = one thread per thunk, right for the 2-4-way overlaps the
    entry composites use. One thunk runs on the calling thread and no
    thunks return ``[]`` — no pool is built for either."""
    from pyspark import inheritable_thread_target

    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(
        max_workers=min(max_workers or len(thunks), len(thunks))
    ) as ex:
        futs = [ex.submit(inheritable_thread_target(t)) for t in thunks]
        return [f.result() for f in futs]
