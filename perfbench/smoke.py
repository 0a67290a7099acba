"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

First shows that the correctness checks can fail: each reference in
``checks.py`` and the search ingest check is fed a wrong answer and must
reject it. Then runs every workload at tiny size, untraced and traced,
and asserts that the last output line names every metric of
``BENCHMARK.json`` with its unit and that all outputs were correct.
Takes a few minutes; it starts one Spark application per run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def checks_can_fail() -> None:
    import checks
    import workloads

    ref = checks.Bm25Reference([0, 1, 2], ["alpha beta", "beta gamma", "gamma"])
    scores = ref.scores("beta gamma")
    good = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    assert ref.topk_matches("beta gamma", good)
    assert not ref.topk_matches("beta gamma", good[::-1]), "wrong order passed"
    assert not ref.topk_matches("beta gamma", [(d, s + 1e-3) for d, s in good])
    assert not ref.topk_matches("beta gamma", good[:1]), "missing hit passed"
    assert ref.topk_matches("delta", [])
    assert not ref.topk_matches("delta", good[:1])

    # one row sits on the p25 boundary: either side of it is correct
    bounds = {"low": [3, 3, 7, 7, 7, 7, 7], "high": [3, 4, 7, 7, 7, 7, 7]}
    assert checks.buckets_match([("p10", 3), ("p50", 4)], bounds)
    assert checks.buckets_match([("p10", 3), ("p25", 1), ("p50", 3)], bounds)
    assert not checks.buckets_match([("p10", 2), ("p50", 5)], bounds)
    assert not checks.buckets_match([("p10", 3), ("p50", 5)], bounds)

    facts = {"base_ids": [0, 1], "batch_ids": [[2, 3, 4]], "plain": [2],
             "dropped": [4], "exact_pairs": [[0, 3]], "near_pairs": []}
    state = {"inputs": {"facts": facts}, "ingested": [2], "near_removed": 0,
             "near_seen": 0}
    si = workloads.SearchIngest
    assert si._ingest_ok(None, state, 0, {2})
    for ingested, survivors in (([2, 3], {2, 3}),  # planted duplicate kept
                                ([], set()),  # plain doc dropped
                                ([2, 4], {2, 4})):  # junk doc kept
        state["ingested"] = ingested
        assert not si._ingest_ok(None, state, 0, survivors)


def run(workload: str, trace: int, names: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, (workload, result)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == names, (workload, trace, set(got) ^ set(names))
    print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)


def main() -> int:
    checks_can_fail()
    print("ok checks reject wrong answers", flush=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            run(w["name"], trace, {m["name"]: m["unit"] for m in bench[key]})
    return 0


if __name__ == "__main__":
    sys.exit(main())
