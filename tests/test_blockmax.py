"""Lossless block-skipping: blockmax_topk == exact_topk.

Kernel-level tests over synthetic posting blocks (no Spark session) —
random corpora with skewed tf/dl so blocks genuinely differ in upper
bound and the skip logic actually fires, plus adversarial shapes
(ties at the threshold, k larger than the corpus, single-posting
blocks, with_ties boundary emission).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from search_engine_spark.index.codec import varbyte_encode, delta_encode
from search_engine_spark.index.kernels import (
    TermPostings,
    blockmax_topk,
    exact_topk,
)
from search_engine_spark.index.reader import QuerySpec, _weighted_idf


def _block_rows(term: str, docs: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                block_size: int) -> list[dict]:
    rows = []
    for bid, s in enumerate(range(0, docs.size, block_size)):
        e = min(s + block_size, docs.size)
        d, t, l = docs[s:e], tfs[s:e], dls[s:e]
        rows.append({
            "term": term,
            "block_id": bid,
            "n": e - s,
            "doc_blob": varbyte_encode(delta_encode(d)),
            "tf_blob": varbyte_encode(t.astype(np.uint64)),
            "dl_blob": varbyte_encode(l.astype(np.uint64)),
            "pos_blob": b"",
            "max_tf": int(t.max()),
            "min_dl": int(l.min()),
        })
    return rows


def _make_corpus(seed: int, n_docs: int, n_terms: int, block_size: int):
    """Random corpus with heavy-tailed tf and doclen so block bounds vary."""
    rng = np.random.default_rng(seed)
    dls = np.maximum(1, rng.geometric(0.02, size=n_docs)).astype(np.int64)
    plists: dict[str, TermPostings] = {}
    idf: dict[str, float] = {}
    avgdl = float(dls.mean())
    for i in range(n_terms):
        # term selectivity varies 100x: term0 rare, last term a head term
        frac = 0.005 * (200 ** (i / max(1, n_terms - 1)))
        df = max(1, int(n_docs * min(frac, 0.9)))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = np.maximum(1, rng.zipf(1.7, size=df) % 50).astype(np.int64)
        term = f"t{i}"
        pdf = pd.DataFrame(_block_rows(term, docs, tfs, dls[docs], block_size))
        idf[term] = math.log((1.0 + n_docs) / (1.0 + df)) + 1.0
        plists[term] = TermPostings(term, pdf, idf[term], avgdl)
    return plists, idf, avgdl


def _fresh(plists, idf, avgdl):
    """Rebuild TermPostings from the same rows so lazy decode caches from
    a prior kernel run cannot mask a skip bug."""
    out = {}
    for t, p in plists.items():
        pdf = pd.DataFrame({
            "term": t,
            "block_id": range(p.n_blocks),
            "n": p.ns,
            "doc_blob": p._doc_blobs,
            "tf_blob": p._tf_blobs,
            "dl_blob": p._dl_blobs,
            "pos_blob": [b"" for _ in range(p.n_blocks)],
            "max_tf": [int(p.block(b)[1].max()) for b in range(p.n_blocks)],
            "min_dl": [int(p.block(b)[2].min()) for b in range(p.n_blocks)],
        })
        out[t] = TermPostings(t, pdf, idf[t], avgdl)
    return out


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("k", [1, 10, 100])
def test_blockmax_equals_exact_random(seed, k):
    plists, idf, avgdl = _make_corpus(seed, n_docs=3000, n_terms=4, block_size=64)
    # query boosts (`t0^4 t2^0.5 t3^2.5`) pre-scale the idf map, and the
    # reader builds block bounds FROM the scaled map — pruning must stay
    # lossless under boosts above and below 1
    boosted = _weighted_idf(idf, QuerySpec(
        "disjunctive", sorted(idf), weights={"t0": 4.0, "t2": 0.5, "t3": 2.5}
    ))
    for terms in [["t0"], ["t3"], ["t0", "t3"], ["t0", "t1", "t2", "t3"]]:
        for scale in (idf, boosted):
            sub = {t: plists[t] for t in terms}
            sub_idf = {t: scale[t] for t in terms}
            ed, es = exact_topk(sub, sub_idf, avgdl, k)
            bd, bs = blockmax_topk(_fresh(sub, sub_idf, avgdl), sub_idf, avgdl, k)
            np.testing.assert_array_equal(bd, ed)
            np.testing.assert_array_equal(bs, es)  # bit-identical, not approx


@pytest.mark.parametrize("seed", range(6))
def test_blockmax_with_ties_boundary(seed):
    """Uniform tf/dl forces mass score ties exactly at the threshold —
    with_ties must emit every tied doc, and skipping none of them."""
    rng = np.random.default_rng(seed)
    n_docs = 500
    docs = np.sort(rng.choice(n_docs, size=400, replace=False)).astype(np.int64)
    tfs = np.ones(400, dtype=np.int64)  # all scores identical
    dls = np.full(400, 7, dtype=np.int64)
    pdf = pd.DataFrame(_block_rows("t", docs, tfs, dls, 16))
    idf = {"t": 1.5}
    p = {"t": TermPostings("t", pdf, 1.5, 7.0)}
    ed, es = exact_topk(p, idf, 7.0, 10, with_ties=True)
    p2 = {"t": TermPostings("t", pdf, 1.5, 7.0)}
    bd, bs = blockmax_topk(p2, idf, 7.0, 10, with_ties=True)
    assert ed.size == 400  # every doc ties → all emitted
    np.testing.assert_array_equal(bd, ed)
    np.testing.assert_array_equal(bs, es)


def test_blockmax_k_exceeds_corpus():
    plists, idf, avgdl = _make_corpus(1, n_docs=100, n_terms=2, block_size=8)
    ed, es = exact_topk(plists, idf, avgdl, 10_000)
    bd, bs = blockmax_topk(_fresh(plists, idf, avgdl), idf, avgdl, 10_000)
    np.testing.assert_array_equal(bd, ed)
    np.testing.assert_array_equal(bs, es)


def test_blockmax_actually_skips_blocks():
    """On a rare-term + head-term query the head term's blocks must NOT
    all be decoded — the point of the kernel.  Decode activity is
    observable through the lazy block cache."""
    plists, idf, avgdl = _make_corpus(3, n_docs=200_000, n_terms=4, block_size=256)
    sub = {t: plists[t] for t in ("t0", "t3")}   # rare + head
    sub_idf = {t: idf[t] for t in ("t0", "t3")}
    fresh = _fresh(sub, sub_idf, avgdl)
    blockmax_topk(fresh, sub_idf, avgdl, 10)
    head = fresh["t3"]
    decoded = len(head._blk)
    assert head.n_blocks > 20
    assert decoded < head.n_blocks, (
        f"head term decoded all {head.n_blocks} blocks — no skipping happened"
    )
