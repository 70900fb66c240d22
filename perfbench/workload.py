"""Seeded query stream of the ``query`` workload, and its execution.

The measured stream is a closed loop of top-k queries
(``CompressedIndex.topk(...).collect()``) that cycles through query classes:
``head`` (1-3 Zipf-drawn head terms, which repeat and share the reader's idf
cache), ``tail`` (terms drawn once each from the rare end of the
vocabulary: every lookup misses the idf cache and reads one short block),
``conj``, ``phrase`` (two adjacent words of a corpus turn), ``bool`` and
``ref`` (the frozen reference queries).  A traced run also sends a few
service operations: ``service.search`` result pages (top-k, total count,
snippets; one scoped with ``where`` and faceted on ``role``) and
``topk_batch`` batches.
"""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from search_engine_spark import service
from search_engine_spark.corpus import REFERENCE_QUERIES, VOCAB_SYNTH, ZIPF_S

HEAD_RANKS = 300  # head terms: Zipf ranks from the top of the vocabulary
TAIL_RANKS = (1500, VOCAB_SYNTH)  # tail terms: drawn once each from here
K = 10
BATCH_SIZE = 20
CLASSES = ("head", "conj", "tail", "phrase", "head", "bool", "ref")
SEARCH_SHAPES = (  # (page, where, facet_col)
    (1, "role = 'user'", "role"),
    (2, None, None),
)


@dataclass
class Op:
    kind: str  # topk | search | batch
    cls: str  # query class (topk), "page" (search), "ref"/"gen" (batch)
    query: str = ""
    mode: str = "disjunctive"
    page: int = 1
    where: str | None = None
    facet_col: str | None = None
    queries: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class Outcome:
    op: Op
    latency_s: float
    rows: object = None  # topk: [(conv, turn, score)]; batch: {qid: rows}; search: dict
    error: str | None = None


class QueryGen:
    def __init__(self, seed: int, texts: list[str], stream: int = 0):
        self.rng = np.random.default_rng([seed, stream])
        self.texts = texts
        ranks = np.arange(1, HEAD_RANKS + 1, dtype=np.float64)
        p = ranks ** (-ZIPF_S)
        self.head_p = p / p.sum()
        self.tail_pool = [int(r) for r in self.rng.permutation(np.arange(*TAIL_RANKS))]
        self.ref_at = int(self.rng.integers(len(REFERENCE_QUERIES)))

    def head(self, lo: int, hi: int) -> list[str]:
        n = int(self.rng.integers(lo, hi + 1))
        return [f"term{int(r):04d}" for r in self.rng.choice(HEAD_RANKS, size=n, p=self.head_p)]

    def tail(self, lo: int, hi: int) -> list[str]:
        n = int(self.rng.integers(lo, hi + 1))
        return [f"term{self.tail_pool.pop():04d}" for _ in range(n)]

    def phrase(self) -> str:
        while True:
            words = self.texts[int(self.rng.integers(len(self.texts)))].split()
            if len(words) >= 2:
                j = int(self.rng.integers(len(words) - 1))
                return f'"{words[j]} {words[j + 1]}"'

    def query(self, cls: str) -> tuple[str, str]:
        if cls == "ref":
            q = REFERENCE_QUERIES[self.ref_at % len(REFERENCE_QUERIES)]
            self.ref_at += 1
            return q["query_text"], q["mode"]
        if cls == "head":
            return " ".join(self.head(1, 3)), "disjunctive"
        if cls == "tail":
            return " ".join(self.tail(1, 2)), "disjunctive"
        if cls == "conj":
            return " ".join(self.head(2, 2)), "conjunctive"
        if cls == "phrase":
            return self.phrase(), "phrase"
        if cls == "bool":
            a, b = self.head(2, 2)
            op = ("AND", "OR", "NOT")[int(self.rng.integers(3))]
            return f'"{a}" {op} "{b}"', "boolean"
        raise ValueError(cls)

    def ops(self, n: int) -> list[Op]:
        """The measured stream: ``n`` top-k queries, cycling through classes."""
        return [Op("topk", cls, *self.query(cls))
                for cls in (CLASSES[i % len(CLASSES)] for i in range(n))]

    def service_ops(self) -> list[Op]:
        """Result pages and two batches (the reference queries, BATCH_SIZE
        generated ones), sent by a traced run after its stream."""
        pages = [Op("search", "page", " ".join(self.head(1, 2)), page=page, where=where,
                    facet_col=facet) for page, where, facet in SEARCH_SHAPES]
        refs = [(q["query_text"], q["mode"]) for q in REFERENCE_QUERIES]
        gen = [self.query(CLASSES[j % len(CLASSES)]) for j in range(BATCH_SIZE)]
        return pages + [Op("batch", "ref", queries=refs), Op("batch", "gen", queries=gen)]


def rank_key(row: tuple) -> tuple:
    """(conv_id, turn_idx, score) -> the engine's result order."""
    return (-row[2], row[0], row[1])


def run_op(index, transcripts, op: Op, tracer, request: str) -> Outcome:
    """Execute one operation; an exception becomes a failed outcome."""
    t0 = time.perf_counter()
    try:
        with tracer.span(f"op.{op.kind}", request=request):
            if op.kind == "topk":
                rows = [(r.conv_id, r.turn_idx, r.score)
                        for r in index.topk(op.query, op.mode, K).collect()]
            elif op.kind == "search":
                rows = service.search(index, transcripts, op.query, op.mode, k=K,
                                      page=op.page, where=op.where,
                                      facet_col=op.facet_col)
            else:
                rows = {i: [] for i in range(len(op.queries))}
                for r in index.topk_batch(op.queries, K).collect():
                    rows[r.query_id].append((r.conv_id, r.turn_idx, r.score))
                for got in rows.values():
                    got.sort(key=rank_key)
        return Outcome(op, time.perf_counter() - t0, rows)
    except Exception as exc:  # noqa: BLE001 -- an op boundary: record and go on
        traceback.print_exc()
        return Outcome(op, time.perf_counter() - t0, None, repr(exc))
