"""Kernel-level block-max vs exact timing at 100x-scale group sizes.

End to end, block-max measured only ~1.05-1.3x over the exact kernel at
the 1M-turn index (BASELINE.md) because per-job fixed overhead (~0.4 s)
dwarfs the kernel time at that group size.  The verdict item is ASYMPTOTIC safety: the
exact kernel is O(total postings of the query terms) per group, so the
relevant measurement is kernel time alone at the posting-list sizes a
100x corpus would put in one group.  This script synthesizes realistic
(zipf-tf, geometric-dl, varbyte-coded) posting lists at several head-term
df scales, runs both kernels single-threaded, asserts identical output,
and prints per-query-shape speedups.

    python scripts/bench_blockmax_kernel.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.index.codec import delta_encode, varbyte_encode
from search_engine_spark.index.kernels import TermPostings, blockmax_topk, exact_topk

BLOCK = 128  # build default block_size


def make_term(rng, term: str, n_docs: int, df: int, idf: float, dls, avgdl):
    docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    tfs = np.maximum(1, rng.zipf(1.7, size=df) % 60).astype(np.int64)
    rows = []
    for bid, s in enumerate(range(0, df, BLOCK)):
        e = min(s + BLOCK, df)
        d, t, l = docs[s:e], tfs[s:e], dls[docs[s:e]]
        rows.append({
            "term": term, "block_id": bid, "n": e - s,
            "doc_blob": varbyte_encode(delta_encode(d)),
            "tf_blob": varbyte_encode(t.astype(np.uint64)),
            "dl_blob": varbyte_encode(l.astype(np.uint64)),
            "pos_blob": b"",
            "max_tf": int(t.max()), "min_dl": int(l.min()),
        })
    return TermPostings(term, pd.DataFrame(rows), idf, avgdl)


def bench(n_docs: int, dfs: dict[str, int], query: list[str], k=10, reps=3):
    rng = np.random.default_rng(42)
    dls = np.maximum(1, rng.geometric(1 / 60, size=n_docs)).astype(np.int64)
    avgdl = float(dls.mean())
    idf = {t: math.log((1 + n_docs) / (1 + df)) + 1.0 for t, df in dfs.items()}
    build = lambda: {
        t: make_term(rng, t, n_docs, dfs[t], idf[t], dls, avgdl) for t in query
    }
    qidf = {t: idf[t] for t in query}
    out = {}
    for name, fn in (("exact", exact_topk), ("blockmax", blockmax_topk)):
        best = float("inf")
        for _ in range(reps):
            rng = np.random.default_rng(42)  # identical lists each rep
            dls = np.maximum(1, rng.geometric(1 / 60, size=n_docs)).astype(np.int64)
            pl = build()
            t0 = time.perf_counter()
            res = fn(pl, qidf, avgdl, k)
            best = min(best, time.perf_counter() - t0)
        out[name] = (best, res)
    ed, es = out["exact"][1]
    bd, bs = out["blockmax"][1]
    assert np.array_equal(ed, bd) and np.array_equal(es, bs), "NOT lossless"
    return out["exact"][0], out["blockmax"][0]


def main() -> None:
    results = []
    # group sizes: 1M docs ~ today's per-group load at lg/8 groups;
    # 10M/30M docs per group ~ what a 100x corpus puts in one group
    for n_docs, label in ((1_000_000, "1M-doc group"), (10_000_000, "10M-doc group"),
                          (30_000_000, "30M-doc group")):
        h = int(n_docs * 0.30)   # head term df (zipf rank-1 share)
        m = int(n_docs * 0.03)   # mid term
        r = max(200, n_docs // 5000)  # rare term
        shapes = {
            "head": (["t_head"], {"t_head": h}),
            "head+head": (["t_head", "t_head2"], {"t_head": h, "t_head2": int(h * 0.8)}),
            "head+rare": (["t_head", "t_rare"], {"t_head": h, "t_rare": r}),
            "head+mid+rare": (["t_head", "t_mid", "t_rare"],
                              {"t_head": h, "t_mid": m, "t_rare": r}),
        }
        for shape, (query, dfs) in shapes.items():
            ex, bm = bench(n_docs, dfs, query)
            results.append({
                "group_docs": n_docs, "shape": shape,
                "exact_ms": round(ex * 1e3, 1), "blockmax_ms": round(bm * 1e3, 1),
                "speedup": round(ex / bm, 2),
            })
            print(f"{label:14s} {shape:14s} exact={ex*1e3:8.1f}ms "
                  f"blockmax={bm*1e3:8.1f}ms  {ex/bm:5.2f}x", file=sys.stderr)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
