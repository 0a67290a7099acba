"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``.bench_work/``), starts one Spark application at
``local[<cpus>]``, sets up three times (session start or restart plus a
light warm-up; ``setup_s`` is the median), then runs the workload's
operations in a closed loop for at least ``--seconds`` seconds and at
least one whole pass or request cycle, and checks every output against
references computed without the code under test. The last line of
standard output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the per-layer ones, read from spans recorded around
each call into the program.

Run details (versions, CPU count, input properties, sample counts, every
set-up time) go to ``.bench_work/last_run.json``; spans of a traced run
to ``.bench_work/spans.jsonl``.

The measurement runs in a child process. The Spark JVM outlives its
Python driver for a moment, and Spark's Python worker daemon puts itself
in a process group of its own, so the parent adopts every orphaned
descendant (``PR_SET_CHILD_SUBREAPER``), stops what is left once the
child has ended, and exits only after each process has been reaped.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SETUPS = 3
_CHILD = "PERFBENCH_MEASURE"  # set in the child process that measures
#: seconds a leftover process has to end after SIGTERM before SIGKILL
_GRACE_S = 20

#: full-size inputs per workload; ``--tiny`` shrinks them for the smoke test
SIZES = {"reference_features": 91_740, "search_ingest": 1000}
TINY = {"reference_features": 4000, "search_ingest": 700}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment() -> None:
    """Pin the Spark application to this machine's cores and keep every
    file it writes inside the checkout."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
    tmp = os.path.join(WORK, "tmp")
    for d in (os.environ["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _session(get_spark):
    tmp = os.environ["TMPDIR"]
    return get_spark(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            # where files land, not how fast: keep them in the checkout
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def _peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus this driver process, in MiB."""
    total = 0
    pids = ["self", str(spark._jvm.java.lang.ProcessHandle.current().pid())]
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _p50_ms(values) -> float:
    return statistics.median(values) * 1000 if values else 0.0


def main(argv=None) -> int:
    if os.environ.get(_CHILD) == "1":
        return _measure(argv)
    return _supervise(sys.argv[1:] if argv is None else argv)


def _supervise(argv: list) -> int:
    """Run ``_measure`` in a child; then stop and reap every process it
    left behind, on every way out, before returning its exit code."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env=dict(os.environ, **{_CHILD: "1"}))

    def forward(signum, _frame):
        if child.poll() is None:
            child.send_signal(signal.SIGTERM)

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    try:
        code = child.wait()
    finally:
        _reap_descendants()
    return code


def _descendants() -> list:
    """Pids of every live descendant of this process."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended meanwhile
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def _reap_descendants() -> None:
    """SIGTERM every descendant, SIGKILL those still there after
    ``_GRACE_S``, and wait until none is left. Orphans are reparented to
    this process, so it reaps each of them."""
    deadline = time.monotonic() + _GRACE_S
    sig = signal.SIGTERM
    signalled: set = set()
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = _descendants()
        if not left:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, signalled = signal.SIGKILL, set()
        for pid in left:
            if pid not in signalled:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def _measure(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    args = ap.parse_args(argv)

    # a terminated run still stops its Spark application (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _environment()
    # fails here, before any input is generated, outside a full checkout
    from datamunging_spark import get_spark

    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    size = (TINY if args.tiny else SIZES)[args.workload]
    wl = workloads.WORKLOADS[args.workload](size)
    t0 = time.perf_counter()
    inputs = wl.prepare(args.seed, WORK)
    gen_s = time.perf_counter() - t0

    tr = Tracer(enabled=bool(args.trace))
    setup_times = []
    spark = None
    try:
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _session(get_spark)
            spark.sparkContext.setLogLevel("ERROR")
            tr.bind(spark)
            state = wl.setup(spark, tr, inputs)
            setup_times.append(time.perf_counter() - t0)
        tr.spans.clear()
        tr.overhead_s = 0.0

        ops = []  # outcomes of each operation
        t0 = time.perf_counter()
        while len(ops) < wl.min_ops or time.perf_counter() - t0 < args.seconds:
            ops.append(wl.step(spark, tr, state, len(ops)))
        wall = time.perf_counter() - t0
        recall = wl.finish(spark, tr, state)
        info_rss = _peak_rss_mb(spark)
        version = spark.version
        if args.trace:
            tr.dump(os.path.join(WORK, "spans.jsonl"))
    finally:
        if spark is not None:
            spark.stop()

    outcomes = [o for op in ops for o in op]
    failed = sum(not o.ok for o in outcomes)
    # items per second of everything but set-up: input rows through the
    # whole chain, or queries answered by a session that also builds its
    # indexes and ingests a batch
    items = sum(o.items for o in outcomes)
    busy = sum(o.seconds for o in outcomes)
    lat = [o.seconds for o in outcomes if o.kind in ("stage", "query")]
    if args.trace:
        metrics = _layer_metrics(tr, outcomes, len(ops))
    else:
        metrics = {
            "setup_s": (statistics.median(setup_times), "s"),
            "items_per_s": (items / busy, "1/s"),
            "op_p50_ms": (_p50_ms(lat), "ms"),
            "recall": (recall, "ratio"),
        }
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": _cpus(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "python": platform.python_version(), "spark": version,
        "input_generation_s": gen_s, "setup_s_all": setup_times,
        "measured_s": wall, "operations": len(ops), "latency_samples": len(lat),
        "op_seconds": [[o.name, o.seconds] for o in outcomes],
        "build_s": [o.seconds for o in outcomes if o.kind == "build"],
        "ingest_s": [o.seconds for o in outcomes if o.kind == "ingest"],
        "input": wl.facts(inputs),
        "failed_ops": [o.name for o in outcomes if not o.ok],
        # not a metric: JVM heap growth follows GC timing, so it varies
        # by more than a tenth between runs of the same inputs
        "peak_rss_mb": info_rss,
    }
    with open(os.path.join(WORK, "last_run.json"), "w") as f:
        json.dump(info, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(tr, outcomes, n_ops: int) -> dict:
    """Per-layer figures per operation, plus the extra ratios."""
    out = {k: (v, "s" if k.endswith("_s") else "count")
           for k, v in tr.layer_totals(n_ops).items()}
    for name, kind in (("retrieval.bm25_p50_ms", "bm25"),
                       ("retrieval.phrase_p50_ms", "phrase"),
                       ("similarity.ivf_p50_ms", "ivf")):
        out[name] = (_p50_ms([o.seconds for o in outcomes if o.name == kind]), "ms")
    jobs = [j for op_id, j in tr.op_jobs().items()
            if op_id.startswith("req-") and not op_id.endswith("-ingest")]
    out["search.jobs_per_request"] = (statistics.mean(jobs) if jobs else 0.0, "count")
    for k in ("dedup.candidate_yield", "dedup.neardup_recall",
              "bloom.false_positive_rate"):
        out[k] = tr.extra.get(k, (0.0, "ratio"))
    busy = sum(o.seconds for o in outcomes)
    out["trace.overhead_frac"] = (tr.overhead_s / busy if busy else 0.0, "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
