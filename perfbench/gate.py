"""Correctness gate: every operation's output against the pure-Python oracle.

``oracle.build_oracle_index`` analyzes each turn with ``analyze_text``;
here it runs with a shared stem memo (``analyze_text``'s own
``_stem_cache`` argument, which leaves results unchanged), which builds the
oracle for the ``sm`` corpus in about a second instead of eight.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from search_engine_spark import oracle as oracle_mod
from search_engine_spark.oracle import (
    OracleIndex,
    oracle_facet_counts,
    oracle_match_count,
    oracle_topk,
)
from search_engine_spark.index.build import TURN_BITS, TURN_MASK
from search_engine_spark.index.codec import decode_postings_block
from search_engine_spark.textproc import analyze_text

from workload import K, Outcome


def build_oracle(pdf: pd.DataFrame) -> OracleIndex:
    stems: dict[str, str] = {}
    plain = oracle_mod.analyze_text
    oracle_mod.analyze_text = lambda text: analyze_text(text, stems)
    try:
        return oracle_mod.build_oracle_index(pdf)
    finally:
        oracle_mod.analyze_text = plain


def _same(got: list, want: list) -> bool:
    """Rank-identical doc ids, scores equal to within float rounding."""
    return len(got) == len(want) and all(
        (g[0], g[1]) == w[0] and math.isclose(g[2], w[1], rel_tol=1e-9, abs_tol=1e-12)
        for g, w in zip(got, want)
    )


class Gate:
    def __init__(self, oracle: OracleIndex, pdf: pd.DataFrame):
        self.oracle = oracle
        self.role = {
            (c, int(t)): r for c, t, r in zip(pdf["conv_id"], pdf["turn_idx"], pdf["role"])
        }
        self.scopes: dict[str, set] = {
            "role = 'user'": {key for key, r in self.role.items() if r == "user"},
        }
        self.single: dict[tuple[str, str], list] = {}  # engine topk rows per query

    def check(self, out: Outcome) -> str | None:
        """None when the outcome is correct, else a one-line reason."""
        if out.error is not None:
            return out.error
        op = out.op
        if op.kind == "topk":
            self.single.setdefault((op.query, op.mode), out.rows)
            if not _same(out.rows, oracle_topk(self.oracle, op.query, op.mode, K)):
                return f"topk {op.query!r} ({op.mode}) differs from the oracle"
        elif op.kind == "batch":
            for i, (q, mode) in enumerate(op.queries):
                rows = out.rows[i]
                if not _same(rows, oracle_topk(self.oracle, q, mode, K)):
                    return f"topk_batch query {q!r} ({mode}) differs from the oracle"
                single = self.single.get((q, mode))
                if single is not None and single != rows:
                    return f"topk_batch query {q!r} ({mode}) differs from topk"
        else:
            scope = self.scopes.get(op.where) if op.where else None
            want = oracle_topk(self.oracle, op.query, op.mode, op.page * K, scope)
            want = want[(op.page - 1) * K:]
            got = [(r["conv_id"], r["turn_idx"], r["score"]) for r in out.rows["results"]]
            if not _same(got, want):
                return f"search page {op.page} of {op.query!r} differs from the oracle"
            total = oracle_match_count(self.oracle, op.query, op.mode, scope)
            if out.rows.get("total_results") != total:
                return f"search total of {op.query!r} is not {total}"
            if op.facet_col:
                facets = oracle_facet_counts(self.oracle, op.query, op.mode, self.role, scope)
                if out.rows.get("facets") != facets:
                    return f"search facets of {op.query!r} differ from the oracle"
        return None


def check_index(index_dir: str, oracle: OracleIndex, seed: int, n_head: int = 3,
                n_rand: int = 27) -> list[str]:
    """Read a built index from disk and compare it with the oracle: corpus
    statistics, every term's document frequency, and the decoded postings
    (doc ids and term frequencies) of the ``n_head`` most frequent terms plus
    ``n_rand`` seeded random terms."""
    bad = []
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    if meta["n_docs"] != oracle.n_docs or not math.isclose(meta["avgdl"], oracle.avgdl):
        bad.append(f"index N/avgdl {meta['n_docs']}/{meta['avgdl']} differ from the oracle")
    idf = pq.read_table(os.path.join(index_dir, "idf"), columns=["term", "df"]).to_pandas()
    want_df = {t: len(p) for t, p in oracle.postings.items()}
    if dict(zip(idf["term"], idf["df"].astype(int))) != want_df:
        bad.append("index document frequencies differ from the oracle")
    by_df = sorted(want_df, key=lambda t: (-want_df[t], t))
    rest = by_df[n_head:]
    pick = np.random.default_rng(seed).choice(len(rest), size=min(n_rand, len(rest)),
                                              replace=False)
    terms = by_df[:n_head] + [rest[i] for i in sorted(pick)]
    convs = pq.read_table(os.path.join(index_dir, "convs"),
                          columns=["conv_id", "conv_rank"]).to_pandas()
    conv_of = dict(zip(convs["conv_rank"].astype(int), convs["conv_id"]))
    blocks = pq.read_table(os.path.join(index_dir, "postings"),
                           columns=["term", "doc_blob", "tf_blob"],
                           filters=[("term", "in", terms)]).to_pandas()
    for term, rows in blocks.groupby("term"):
        got = []
        for d, t in zip(rows["doc_blob"], rows["tf_blob"]):
            docs, tfs = decode_postings_block(d, t)
            got += [((conv_of[int(x) >> TURN_BITS], int(x) & TURN_MASK), int(f))
                    for x, f in zip(docs, tfs)]
        if sorted(got) != [(key, f) for key, f, _ in oracle.postings[term]]:
            bad.append(f"postings of {term!r} differ from the oracle")
    return bad
