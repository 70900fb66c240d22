#!/usr/bin/env python3
"""Self-test of the benchmark at the tiny ``xs`` scale (100 turns).

    python3 perfbench/selftest.py

1. The correctness gate rejects wrong outputs: an oracle-correct top-k,
   result page and batch pass ``gate.Gate``; the same outcomes with a
   swapped rank, a changed score, a wrong total and a wrong batch row fail.
2. Each workload runs end to end at ``--scale xs``, untraced and traced, and
   its result line is correct and carries exactly the metrics that
   ``BENCHMARK.json`` lists.  A traced run also writes its spans.

Part 1 takes a second.  Part 2 is dominated by Spark start-up and the cold
index build: about a minute per run on 4 cores.  Exits non-zero on failure.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def check_gate() -> None:
    from search_engine_spark.corpus import generate_transcripts
    from search_engine_spark.oracle import oracle_match_count, oracle_topk

    import gate
    from workload import K, Op, Outcome

    pdf = generate_transcripts("xs", 7)
    oracle = gate.build_oracle(pdf)
    q = "term0000 term0001"

    def rows(want):
        return [(c, t, s) for (c, t), s in want]

    top = rows(oracle_topk(oracle, q, "disjunctive", K))
    assert len(top) >= 2, "xs corpus should match the head terms"
    good = {
        "topk": Outcome(Op("topk", "head", q), 0.0, top),
        "batch": Outcome(Op("batch", "gen", queries=[(q, "disjunctive")]), 0.0, {0: top}),
        "search": Outcome(Op("search", "page", q), 0.0, {
            "results": [{"conv_id": c, "turn_idx": t, "score": s} for c, t, s in top],
            "total_results": oracle_match_count(oracle, q, "disjunctive")}),
    }
    checker = gate.Gate(oracle, pdf)
    for name, out in good.items():
        why = checker.check(out)
        assert why is None, f"{name}: correct outcome rejected: {why}"

    swapped = top[1::-1] + top[2:]
    changed = [(top[0][0], top[0][1], top[0][2] * (1 + 1e-6))] + top[1:]
    bad = [copy.deepcopy(good["topk"]), copy.deepcopy(good["topk"]),
           copy.deepcopy(good["search"]), copy.deepcopy(good["batch"])]
    bad[0].rows = swapped
    bad[1].rows = changed
    bad[2].rows["total_results"] += 1
    bad[3].rows = {0: swapped}
    for out in bad:
        assert gate.Gate(oracle, pdf).check(out) is not None, f"wrong {out.op.kind} accepted"
    print("gate: rejects swapped ranks, changed scores, wrong totals and batch rows")


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "3", "--seconds", "2", "--trace", str(trace), "--scale", "xs"]
            proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
            assert proc.returncode == 0, proc.stderr[-3000:]
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0, proc.stderr[-3000:]
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{workload}/trace={trace}: metrics {sorted(set(got) ^ set(want))}"
            if trace:
                assert os.path.exists(os.path.join(
                    ROOT, ".perfbench_work", f"trace-{workload}-3.json"))
            print(f"{workload} trace={trace}: correct, {res['attempted']} ops, "
                  f"{len(got)} metrics")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    check_gate()
    check_runs()
    print("selftest passed")
