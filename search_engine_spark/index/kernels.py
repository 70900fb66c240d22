"""Per-group query kernels over compressed posting blocks.

These run inside ``applyInPandas`` cogroups — one invocation per index
group (doc-range shard), Arrow-batched, numpy-vectorized.  Two scoring
paths that must agree bit-for-bit:

* ``exact``: decode all postings for the query terms, score every
  matching doc (vectorized), take the group-local top-k.  The internal
  cross-check and the path for materialized candidate sets.
* ``blockmax``: vectorized block-at-a-time top-k using per-block
  ``idf * max_partial`` upper bounds (the Block-Max WAND stop rule,
  Broder et al. 2003; Ding & Suel 2011) — skips blocks that cannot
  enter the top-k.  Replaces the reference's arbitrary LIMIT-1000
  candidate truncation (``QueryService.java:449`` — SURVEY.md T2/§4.2)
  with *provably lossless* early termination.

Float determinism: a doc's score is always the sum of per-term
contributions in **lexicographic term order** (SURVEY.md §7.3), matching
the pure-Python oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import BM25_B, BM25_K1
from .codec import varbyte_decode


def _varbyte_first(blob) -> int:
    """First value of a varbyte stream without decoding the rest.

    For a doc blob the first delta IS the block's first absolute doc id,
    so per-block doc ranges are known from a few bytes — the hook that
    lets :func:`blockmax_topk` locate a candidate's block (and decode
    ONLY it) from metadata."""
    v = 0
    shift = 0
    for byte in bytes(blob[:10]):
        v |= (byte & 0x7F) << shift
        if not (byte & 0x80):
            return v
        shift += 7
    return v


class TermPostings:
    """Postings of one term within one group — LAZY per-block decode.

    Construction reads only block METADATA (counts, max_tf/min_dl upper
    bounds); blobs decompress on demand, per block, with caching.  The
    exact kernel touches every block (full-decode properties below);
    :func:`blockmax_topk` decodes only the blocks whose upper bound can
    still reach the top-k — the whole point of block skipping is to
    avoid the decompression, not just the scoring.
    """

    __slots__ = (
        "term", "idf", "avgdl", "ns", "block_starts", "block_ubs", "pos_blobs",
        "_doc_blobs", "_tf_blobs", "_dl_blobs", "_blk", "_full", "_first",
        "_pos", "_block_pos", "_flat",
    )

    def __init__(self, term: str, pdf: pd.DataFrame, idf: float, avgdl: float):
        rows = pdf.sort_values("block_id")
        self.term = term
        self.idf = float(idf)
        self.avgdl = float(avgdl)
        self.ns = rows["n"].to_numpy(dtype=np.int64)
        starts = np.zeros(len(self.ns), dtype=np.int64)
        if len(self.ns) > 1:
            starts[1:] = np.cumsum(self.ns)[:-1]
        self.block_starts = starts
        # avgdl-independent stored bound (max_tf, min_dl): partial is
        # increasing in tf, decreasing in dl, so this dominates every
        # posting in the block at the query-time avgdl
        if len(rows):
            self.block_ubs = idf * _partial(
                rows["max_tf"].to_numpy(dtype=np.int64),
                rows["min_dl"].to_numpy(dtype=np.float64),
                avgdl,
            )
        else:
            self.block_ubs = np.empty(0, dtype=np.float64)
        self._doc_blobs = rows["doc_blob"].tolist()
        self._tf_blobs = rows["tf_blob"].tolist()
        self._dl_blobs = rows["dl_blob"].tolist()
        self.pos_blobs: list[tuple[int, bytes]] = list(
            zip(starts.tolist(), rows["pos_blob"].tolist())
        )
        self._blk: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._full: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._first: np.ndarray | None = None
        self._pos: list[np.ndarray] | None = None
        self._block_pos: dict[int, list[np.ndarray]] = {}
        self._flat: tuple[np.ndarray, np.ndarray] | None = None

    @property
    def n_blocks(self) -> int:
        return len(self.ns)

    @property
    def n_postings(self) -> int:
        return int(self.ns.sum()) if self.ns.size else 0

    def block(self, b: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc_ids, tfs, dls) of block ``b`` — decoded once, cached."""
        hit = self._blk.get(b)
        if hit is None:
            docs = np.cumsum(varbyte_decode(self._doc_blobs[b]).astype(np.int64))
            tfs = varbyte_decode(self._tf_blobs[b]).astype(np.int64)
            # v5: the block carries each posting's doclen — scoring
            # never consults a side doclen table
            dls = varbyte_decode(self._dl_blobs[b]).astype(np.int64)
            hit = (docs, tfs, dls)
            self._blk[b] = hit
        return hit

    @property
    def first_docs(self) -> np.ndarray:
        """First doc id of every block, from metadata bytes only."""
        if self._first is None:
            self._first = np.asarray(
                [_varbyte_first(blob) for blob in self._doc_blobs], dtype=np.int64
            )
        return self._first

    def _ensure_full(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if self._full is None:
            if not self.n_blocks:
                e = np.empty(0, dtype=np.int64)
                self._full = (e, e, e)
            else:
                parts = [self.block(b) for b in range(self.n_blocks)]
                self._full = (
                    np.concatenate([p[0] for p in parts]),
                    np.concatenate([p[1] for p in parts]),
                    np.concatenate([p[2] for p in parts]),
                )
        return self._full

    @property
    def doc_ids(self) -> np.ndarray:
        return self._ensure_full()[0]

    @property
    def tfs(self) -> np.ndarray:
        return self._ensure_full()[1]

    @property
    def dls(self) -> np.ndarray:
        return self._ensure_full()[2]

    def lookup(
        self, docs: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(tf, dl, found) for sorted candidate ``docs``, decoding ONLY
        the blocks that could contain them (located via first_docs)."""
        tf = np.zeros(docs.size, dtype=np.int64)
        dl = np.zeros(docs.size, dtype=np.int64)
        found = np.zeros(docs.size, dtype=bool)
        if not self.n_blocks or docs.size == 0:
            return tf, dl, found
        if self._full is not None:
            adocs, atfs, adls = self._full  # already paid for — use it
        else:
            bi = np.searchsorted(self.first_docs, docs, side="right") - 1
            blocks = np.unique(bi[bi >= 0])
            # decode ONLY the touched blocks, but answer with ONE
            # vectorized searchsorted over their concatenation (block
            # order == doc order, so the concat stays sorted).  A
            # per-block probe loop here made head+head queries
            # pathological (bench_blockmax_kernel.py): tens of
            # thousands of Python-level slice/searchsorted rounds.
            parts = [self.block(int(b)) for b in blocks]
            if not parts:
                return tf, dl, found
            adocs = np.concatenate([p[0] for p in parts])
            atfs = np.concatenate([p[1] for p in parts])
            adls = np.concatenate([p[2] for p in parts])
        j = np.searchsorted(adocs, docs)
        ok = (j < adocs.size) & (adocs[np.minimum(j, adocs.size - 1)] == docs)
        tf[ok] = atfs[j[ok]]
        dl[ok] = adls[j[ok]]
        found[ok] = True
        return tf, dl, found

    def flat_positions(self) -> tuple[np.ndarray, np.ndarray]:
        """ALL positions as one flat array (lazy decode, phrase path).

        Returns ``(flat, offs)`` with posting ``i``'s positions at
        ``flat[offs[i]:offs[i+1]]``.  The per-posting delta streams are
        resolved with ONE segmented cumsum over the whole term — a
        per-posting ``np.cumsum`` loop costs ~µs per posting (seconds
        for a 100k-posting head term); this is ~10 ms."""
        if self._flat is None:
            parts = [varbyte_decode(blob) for _, blob in self.pos_blobs]
            deltas = (
                np.concatenate(parts).astype(np.int64)
                if parts
                else np.empty(0, dtype=np.int64)
            )
            offs = np.concatenate(
                [[0], np.cumsum(self.tfs)]
            ).astype(np.int64)
            c = np.cumsum(deltas)
            # positions of posting i = c[offs[i]:offs[i+1]] - c[offs[i]-1]
            base = np.zeros(len(self.tfs), dtype=np.int64)
            starts = offs[:-1]
            nz = starts > 0
            base[nz] = c[starts[nz] - 1]
            self._flat = (c - np.repeat(base, self.tfs), offs)
        return self._flat

    def positions(self) -> list[np.ndarray]:
        """Per-posting position arrays (views into the flat decode)."""
        if self._pos is None:
            flat, offs = self.flat_positions()
            self._pos = [
                flat[offs[i] : offs[i + 1]] for i in range(len(offs) - 1)
            ]
        return self._pos

    def positions_at(self, i: int) -> np.ndarray:
        """Positions of posting ``i``, decoding ONLY its block (cached).

        The selective path for candidate-bounded operators (proximity
        rerank): a group may hold millions of postings but only the
        block containing each of the k candidates is ever decompressed.
        """
        if self._pos is not None:
            return self._pos[i]
        b = int(np.searchsorted(self.block_starts, i, side="right") - 1)
        blk = self._block_pos.get(b)
        if blk is None:
            start, blob = self.pos_blobs[b]
            flat = varbyte_decode(blob).astype(np.int64)
            counts = self.block(b)[1]  # this block's tfs only — no full decode
            offs = np.concatenate([[0], np.cumsum(counts)])
            blk = [
                np.cumsum(flat[offs[j] : offs[j + 1]]) for j in range(len(counts))
            ]
            self._block_pos[b] = blk
        return blk[i - int(self.block_starts[b])]


class DocLens:
    """Group doclen lookup: sorted doc_id array → dl array.

    Since format v5 the QUERY path reads per-posting doclens inline
    from the blocks (``TermPostings.dls``); this class serves the side
    doclen table for diagnostics/stats consumers only."""

    __slots__ = ("doc_ids", "dls")

    def __init__(self, dl_pdf: pd.DataFrame):
        if len(dl_pdf) == 0:
            self.doc_ids = np.empty(0, dtype=np.int64)
            self.dls = np.empty(0, dtype=np.float64)
            return
        r = dl_pdf.iloc[0]
        self.doc_ids = np.cumsum(varbyte_decode(r["doc_blob"]).astype(np.int64))
        self.dls = varbyte_decode(r["dl_blob"]).astype(np.float64)

    def lookup(self, docs: np.ndarray) -> np.ndarray:
        idx = np.searchsorted(self.doc_ids, docs)
        # cheap vectorized integrity check: a doc_id absent from the
        # group's doclen (corrupt / mixed-version index) must fail loud,
        # not silently score against a neighboring doc's length
        if idx.size and (
            np.any(idx >= self.doc_ids.size) or np.any(self.doc_ids[idx] != docs)
        ):
            missing = (
                docs[idx >= self.doc_ids.size]
                if np.any(idx >= self.doc_ids.size)
                else docs[self.doc_ids[np.minimum(idx, self.doc_ids.size - 1)] != docs]
            )
            raise ValueError(
                f"index corruption: doc_ids {missing[:5].tolist()} missing "
                "from group doclen (mixed-version or partial index?)"
            )
        return self.dls[idx]


def _partial(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    """BM25 tf component (IndexerService.java:1069-1070; k1=1.2, b=0.75)."""
    t = tfs.astype(np.float64)
    return t * (BM25_K1 + 1.0) / (t + BM25_K1 * (1.0 - BM25_B + BM25_B * dls / avgdl))


def exact_topk(
    plists: dict[str, TermPostings],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    candidates: np.ndarray | None = None,
    with_ties: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Score all (or ``candidates``) matching docs; return group top-k.

    Returns (doc_ids, scores) sorted by (score desc, doc_id asc).

    ``with_ties`` keeps every doc whose score equals the k-th score
    (SQL ``WITH TIES``): required when doc_id order is NOT isomorphic
    to the final (conv_id, turn_idx) tie-break order — e.g. the dense
    scheme's arrival-ordered streaming ids — so the global sort, not
    the group cut, resolves boundary ties.
    """
    terms = sorted(plists)
    if not terms:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if candidates is not None:
        union = candidates
    else:
        union = np.unique(np.concatenate([plists[t].doc_ids for t in terms]))
    if union.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    scores = np.zeros(union.size, dtype=np.float64)
    for t in terms:  # lexicographic order == oracle summation order
        p = plists[t]
        if p.doc_ids.size == 0:
            continue
        idx = np.searchsorted(union, p.doc_ids)
        ok = (idx < union.size) & (union[np.minimum(idx, union.size - 1)] == p.doc_ids)
        scores[idx[ok]] += idf[t] * _partial(
            p.tfs[ok], p.dls[ok].astype(np.float64), avgdl
        )
    return _cut_topk(union, scores, k, with_ties)


def _cut_topk(
    union: np.ndarray, scores: np.ndarray, k: int, with_ties: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Shared top-k cut: drop zero scores, sort (score desc, doc asc),
    keep k (plus boundary ties when ``with_ties``).  Both the exact and
    block-max kernels end here so their outputs are bit-identical."""
    hit = scores > 0.0
    union, scores = union[hit], scores[hit]
    order = np.lexsort((union, -scores))
    if with_ties and order.size > k:
        kth = scores[order[k - 1]] if k > 0 else np.inf
        cut = k
        while cut < order.size and scores[order[cut]] == kth:
            cut += 1
        order = order[:cut]
    else:
        order = order[:k]
    return union[order], scores[order]


def blockmax_topk(
    plists: dict[str, TermPostings],
    idf: dict[str, float],
    avgdl: float,
    k: int,
    with_ties: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized block-max disjunctive top-k — lossless block skipping.

    The exact kernel is O(total postings of the query terms): it decodes
    and scores every block.  This kernel consumes blocks in descending
    upper-bound order (per-block ``idf * partial(max_tf, min_dl)`` —
    stored metadata, no decode needed) and stops as soon as no UNSEEN
    document can still reach the top-k:

    * every doc in a consumed block is scored EXACTLY at first sight —
      its tf/dl in the other terms come from :meth:`TermPostings.lookup`,
      which decodes only the specific blocks containing it (block doc
      ranges are known from metadata via ``first_docs``);
    * a doc never seen in any consumed block appears in at most one
      UNconsumed block per term, so its score is at most
      ``S = Σ_t max_ub(unconsumed blocks of t)``;
    * once ``S < theta`` (the k-th best exact score so far, strict — a
      tie at theta could still win the doc-id tie-break), no unseen doc
      can displace the current top-k: stop.

    Lossless by the same argument as WAND (Broder et al. 2003; Ding &
    Suel 2011 block-max bounds), but vectorized: work happens in numpy
    over whole blocks, not a per-document Python loop — the reason the
    measured WAND loop lost to the exact kernel (BASELINE.md "WAND vs
    vectorized exact") does not apply here.  Score arithmetic (term
    order, float op sequence) is identical to :func:`exact_topk`, so
    results are bit-identical (pinned by tests).

    The win is largest when terms differ in selectivity (rare high-idf
    term + head terms: the head term's blocks are skipped wholesale once
    the rare term's candidates set theta).  For a single head term with
    near-uniform block bounds it degenerates to the exact kernel plus a
    metadata pass — the doubling chunk schedule bounds the extra rounds
    to O(log #blocks).
    """
    terms = sorted(t for t in plists if plists[t].n_blocks > 0)
    if not terms:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    # per-term block consumption order: descending upper bound
    order = {t: np.argsort(-plists[t].block_ubs, kind="stable") for t in terms}
    ubs_desc = {t: plists[t].block_ubs[order[t]] for t in terms}
    nblocks = {t: plists[t].n_blocks for t in terms}
    ptr = {t: 0 for t in terms}
    chunk = {t: 1 for t in terms}
    cand_docs = np.empty(0, dtype=np.int64)
    cand_scores = np.empty(0, dtype=np.float64)
    # bail-out: when bounds are near-uniform across terms (two head
    # terms), the threshold never prunes and this loop would consume
    # everything with per-round lookup/merge overhead on top.  Once an
    # eighth of the total postings is consumed without the stop
    # condition firing, hand the query to the exact kernel —
    # already-decoded blocks are cached on the TermPostings, so the
    # switch costs only the remaining decode.  Measured (bench_blockmax
    # _kernel.py): prunable shapes stop far below 1/8 (wins intact at
    # 3-23x), and the non-prunable head+head worst case lands within
    # ~1.3x of exact instead of 2.4x at a 1/2 threshold.
    total_postings = sum(plists[t].n_postings for t in terms)
    consumed = 0
    while True:
        alive = [t for t in terms if ptr[t] < nblocks[t]]
        if not alive:
            break
        rem = {t: float(ubs_desc[t][ptr[t]]) for t in alive}
        if cand_docs.size >= k > 0:
            theta = float(np.partition(cand_scores, cand_scores.size - k)[
                cand_scores.size - k
            ])
            if sum(rem.values()) < theta:
                break  # no unseen doc can reach the top-k
        if consumed * 8 > total_postings:
            return exact_topk(plists, idf, avgdl, k, with_ties=with_ties)
        tstar = max(alive, key=lambda t: (rem[t], t))
        p = plists[tstar]
        take = order[tstar][ptr[tstar] : ptr[tstar] + chunk[tstar]]
        ptr[tstar] += chunk[tstar]
        chunk[tstar] *= 2
        consumed += int(p.ns[take].sum())
        new = np.concatenate([p.block(int(b))[0] for b in take])
        if cand_docs.size:
            pos = np.searchsorted(cand_docs, new)
            seen = (pos < cand_docs.size) & (
                cand_docs[np.minimum(pos, cand_docs.size - 1)] == new
            )
            new = new[~seen]
        if new.size == 0:
            continue
        new = np.sort(new)
        scores = np.zeros(new.size, dtype=np.float64)
        for u in terms:  # lexicographic order == oracle summation order
            tfv, dlv, ok = plists[u].lookup(new)
            if ok.any():
                scores[ok] += idf[u] * _partial(
                    tfv[ok], dlv[ok].astype(np.float64), avgdl
                )
        merged = np.concatenate([cand_docs, new])
        sidx = np.argsort(merged, kind="stable")
        cand_docs = merged[sidx]
        cand_scores = np.concatenate([cand_scores, scores])[sidx]
    return _cut_topk(cand_docs, cand_scores, k, with_ties)


def msm_candidates(plists: dict[str, TermPostings], m: int) -> np.ndarray:
    """Docs containing at least ``m`` DISTINCT query terms — the
    Elasticsearch ``minimum_should_match`` candidate set, between the
    disjunctive union (m=1) and the conjunctive intersection (m=n).

    Each term's doc list holds unique ids, so one concatenate +
    unique-with-counts pass yields every doc's distinct-matched-term
    count vectorized.  Terms absent from the index can never match (ES
    optional-clause semantics): a group whose PRESENT terms number
    fewer than ``m`` matches nothing."""
    arrays = [p.doc_ids for p in plists.values() if p.doc_ids.size]
    if len(arrays) < m:
        return np.empty(0, dtype=np.int64)
    docs, counts = np.unique(np.concatenate(arrays), return_counts=True)
    return docs[counts >= m]


def conjunctive_candidates(plists: dict[str, TermPostings]) -> np.ndarray:
    """Docs containing ALL terms (QueryService.java:595-615 semantics)."""
    arrays = [p.doc_ids for p in plists.values()]
    if not arrays:
        return np.empty(0, dtype=np.int64)
    out = arrays[0]
    for a in arrays[1:]:
        out = np.intersect1d(out, a, assume_unique=True)
        if out.size == 0:
            break
    return out


def _gather_pos_keys(
    tp: TermPostings, cand: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Packed ``(candidate_rank << 32) | position`` keys for one term's
    occurrences within the candidate docs, plus the raw positions.

    Keys are strictly increasing (docs ascend, positions ascend within a
    doc), so downstream ``intersect1d``/``searchsorted`` run on sorted
    input.  Work is bounded by the CANDIDATE docs' position counts, not
    the term's full posting list."""
    flat, offs = tp.flat_positions()
    idx = np.searchsorted(tp.doc_ids, cand)
    cnts = offs[idx + 1] - offs[idx]
    total = int(cnts.sum())
    out_starts = np.concatenate([[0], np.cumsum(cnts)])[:-1]
    gather = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_starts, cnts)
        + np.repeat(offs[idx], cnts)
    )
    pos_vals = flat[gather]
    keys = (
        np.repeat(np.arange(cand.size, dtype=np.int64), cnts) << 32
    ) + pos_vals
    return keys, pos_vals


def near_candidates(
    terms: list[str],
    plists: dict[str, TermPostings],
    slop: int = 0,
) -> np.ndarray:
    """Docs where ALL distinct terms occur within an UNORDERED window —
    Lucene ``SpanNearQuery(inOrder=false)`` / Indri ``#uwN`` semantics:
    positions p_t exist (one per distinct term; distinct automatically,
    a token position holds one term) with
    ``(max - min) - (n-1) <= slop`` (the same gap convention as the
    ordered sloppy phrase; ``slop=0`` means the n terms are adjacent in
    some order).

    Vectorized existence check: any satisfying window can be shrunk so
    its minimum is some term occurrence, so scanning every occurrence
    as an anchor is exhaustive — anchor ``a`` matches iff every term
    has an occurrence in ``[a, a + W]``, ``W = slop + n - 1``.  One
    ``searchsorted`` per term tests EVERY anchor of every candidate doc
    at once over the packed ``(candidate_rank << 32 | position)`` key
    arrays; work is O(candidate positions × n_terms × log), no per-doc
    loop — the same cost class as the sloppy-phrase kernel.
    """
    uniq = sorted(set(terms))
    if not uniq or any(
        t not in plists or plists[t].doc_ids.size == 0 for t in uniq
    ):
        return np.empty(0, dtype=np.int64)
    cand = plists[uniq[0]].doc_ids
    for t in uniq[1:]:
        cand = np.intersect1d(cand, plists[t].doc_ids, assume_unique=True)
        if cand.size == 0:
            return cand
    if len(uniq) == 1:
        return cand
    w = slop + len(uniq) - 1
    key_arrays = [_gather_pos_keys(plists[t], cand)[0] for t in uniq]
    anchors = np.unique(np.concatenate(key_arrays))
    ok = np.ones(anchors.size, dtype=bool)
    for kj in key_arrays:
        i = np.searchsorted(kj, anchors, side="left")  # first key >= anchor
        has = i < kj.size
        v = kj[np.minimum(i, kj.size - 1)]
        ok &= (
            has
            & ((v >> 32) == (anchors >> 32))
            & ((v & 0xFFFFFFFF) - (anchors & 0xFFFFFFFF) <= w)
        )
        if not ok.any():
            return np.empty(0, dtype=np.int64)
    return cand[np.unique(anchors[ok] >> 32)]


def phrase_candidates(
    ordered_terms: list[str],
    plists: dict[str, TermPostings],
    slop: int = 0,
) -> np.ndarray:
    """Docs where the terms appear in order within a ``slop`` window.

    ``slop=0`` is the exact positional phrase — the oracle
    `_phrase_match_docs` / positional check (Ranker1.java:370-449)
    without per-position queries: intersect doc lists, then intersect
    shifted position arrays per surviving doc.

    ``slop>0`` is the ordered sloppy phrase (Lucene ordered
    SpanNearQuery / Indri ``#N`` semantics, an extension over the
    reference): the doc matches iff positions p1 < p2 < ... < pn exist,
    one per term in phrase order, with total in-between gap
    ``(pn - p1) - (n-1) <= slop``.  Adjacent is gap 0, so ``slop=0``
    via this path equals the exact phrase (pinned by tests).
    """
    if any(t not in plists or plists[t].doc_ids.size == 0 for t in ordered_terms):
        return np.empty(0, dtype=np.int64)
    cand = plists[ordered_terms[0]].doc_ids
    for t in ordered_terms[1:]:
        cand = np.intersect1d(cand, plists[t].doc_ids, assume_unique=True)
    if cand.size == 0 or len(ordered_terms) == 1:
        return cand
    if slop > 0:
        return _sloppy_phrase_candidates(ordered_terms, plists, cand, slop)
    # Vectorized alignment: pack each candidate position into one int64
    # key (candidate_rank << 32) | (position - term_order) — a phrase hit
    # is a key present for EVERY term, so the per-doc python loop over
    # np.isin calls (≈100 µs × |cand| docs) collapses into
    # len(terms)-1 sorted intersections over flat arrays (sorted, so
    # intersect1d runs in its assume_unique fast path).
    survivors: np.ndarray | None = None
    for j, t in enumerate(ordered_terms):
        keys, pos_vals = _gather_pos_keys(plists[t], cand)
        keys = keys - j
        if j > 0:
            keys = keys[pos_vals >= j]  # a phrase cannot start before 0
        survivors = (
            keys
            if survivors is None
            else np.intersect1d(survivors, keys, assume_unique=True)
        )
        if survivors.size == 0:
            return np.empty(0, dtype=np.int64)
    return cand[np.unique(survivors >> 32)]


def _sloppy_phrase_candidates(
    ordered_terms: list[str],
    plists: dict[str, TermPostings],
    cand: np.ndarray,
    slop: int,
) -> np.ndarray:
    """Greedy earliest-successor chaining, vectorized across ALL docs.

    For a fixed start position of the first term, the minimal reachable
    end position of the last term is obtained by greedily taking each
    next term's SMALLEST position strictly after the current one
    (standard exchange argument for ordered span queries) — so a doc
    matches iff some start's greedy chain ends within the window.  One
    ``searchsorted`` per term advances EVERY live chain at once over the
    packed (candidate_rank << 32 | position) key arrays; a chain whose
    successor falls in a different doc (or past the end) dies.  Work is
    O(total candidate positions × n_terms × log), no per-doc loop.
    """
    chain_keys = [_gather_pos_keys(plists[t], cand)[0] for t in ordered_terms]
    cur = chain_keys[0]
    start = cur
    for kj in chain_keys[1:]:
        nxt = np.searchsorted(kj, cur, side="right")
        alive = nxt < kj.size
        cur, start = kj[nxt[alive]], start[alive]
        same_doc = (cur >> 32) == (start >> 32)
        cur, start = cur[same_doc], start[same_doc]
        if cur.size == 0:
            return np.empty(0, dtype=np.int64)
    gap = (cur & 0xFFFFFFFF) - (start & 0xFFFFFFFF) - (len(ordered_terms) - 1)
    hit = gap <= slop
    return cand[np.unique(start[hit] >> 32)]


def _group_docs_union(
    plists: dict[str, TermPostings], group: tuple
) -> np.ndarray:
    """Union of one clause's alternative-term doc lists (sorted unique).
    Each term's doc_ids are already sorted unique, so the single-term
    case (the common one) is zero-copy."""
    arrs = [
        plists[t].doc_ids
        for t in group
        if t in plists and plists[t].doc_ids.size
    ]
    if not arrs:
        return np.empty(0, dtype=np.int64)
    if len(arrs) == 1:
        return arrs[0]
    return np.unique(np.concatenate(arrs))


def bool_candidates(plists: dict[str, TermPostings], bc) -> np.ndarray:
    """Candidate docs of a resolved bool query (boolquery.BoolClauses):
    ``must₁ ∩ … ∩ mustₘ ∩ {docs matching ≥ min_should should clauses}
    − must_not…`` — vectorized set algebra over the same sorted posting
    arrays every other mode decodes.

    Scale shape: the must intersection is bounded by the RAREST must
    clause and shrinks monotonically; the should counting is one
    concatenate + unique-with-counts pass (the msm_candidates shape);
    phrases reuse the packed-key alignment kernels.  No per-doc Python
    loop anywhere.
    """
    must_sets = [_group_docs_union(plists, g) for g in bc.must_groups]
    must_sets += [
        phrase_candidates(list(terms), plists, slop)
        for terms, slop in bc.must_phrases
    ]
    cand: np.ndarray | None = None
    for s in sorted(must_sets, key=lambda a: a.size):  # rarest first
        cand = s if cand is None else np.intersect1d(cand, s, assume_unique=True)
        if cand.size == 0:
            return cand
    if bc.min_should >= 1:
        sets = [_group_docs_union(plists, g) for g in bc.should_groups]
        sets += [
            phrase_candidates(list(terms), plists, slop)
            for terms, slop in bc.should_phrases
        ]
        sets = [s for s in sets if s.size]
        if not sets:
            return np.empty(0, dtype=np.int64)
        docs, counts = np.unique(np.concatenate(sets), return_counts=True)
        sh = docs[counts >= bc.min_should]
        cand = sh if cand is None else np.intersect1d(cand, sh, assume_unique=True)
    assert cand is not None  # resolver guarantees must or min_should>=1
    for g in bc.not_groups:
        if cand.size == 0:
            return cand
        cand = np.setdiff1d(cand, _group_docs_union(plists, g), assume_unique=True)
    for terms, slop in bc.not_phrases:
        if cand.size == 0:
            return cand
        cand = np.setdiff1d(
            cand, phrase_candidates(list(terms), plists, slop), assume_unique=True
        )
    return cand
