"""Query engine over the compressed index (SURVEY.md §4.4 step 2, M3).

Physical plan per query::

    idf parquet  --bucket-pruned scan--> driver (|terms| rows, broadcast)
    postings parquet --bucket-pruned, term-filtered scan-->
        groupBy(group).applyInPandas(per-group block-max / exact kernel)
        # ≤ G·k rows out; doclens ride INLINE in the blocks (format v5),
        # so the only exchange carries the pruned postings — never the
        # corpus-wide doclen blobs the pre-v5 cogroup shipped per query
    join docmap (broadcast of the tiny candidate side)
    orderBy(score desc, conv_id, turn_idx) limit k     # TakeOrderedAndProject

Bucket pruning is the Spark analog of the reference's B-tree index seek
``SELECT ... WHERE word_id = ?`` (QueryService.java:448-452): the scan
touches only ``pmod(xxhash64(term), NB)`` partitions, never the full
postings table.  Every stage is a DataFrame op; per-group kernels are the
only Python, Arrow-batched.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..oracle import (
    FUZZY_CAP,
    OPERATOR_PATTERN,
    PHRASE_PATTERN,
    PREFIX_CAP,
    assemble_expanded,
    classify_expansion_tokens,
    deletions1,
    parse_query_weights,
    parse_slop,
    rank_fuzzy_candidates,
    rewrite_fuzzy,
    rewrite_with_expansions,
    split_fuzzy_tokens,
    split_phrase_prefix,
    split_prefix_tokens,
    wildcard_literal_prefix,
    wildcard_to_like,
)
from ..textproc import analyze_query, analyze_text
from .build import TURN_BITS, IndexPaths
from .kernels import (
    TermPostings,
    _cut_topk,
    blockmax_topk,
    bool_candidates,
    conjunctive_candidates,
    exact_topk,
    msm_candidates,
    near_candidates,
    phrase_candidates,
)
from .xxhash import term_bucket

RESULT_SCHEMA = "doc_id long, score double"
RESULT_CACHE_SIZE = 500  # SearchController.java:35



@dataclass
class QuerySpec:
    mode: str  # disjunctive | conjunctive | phrase | boolean
    score_terms: list[str]  # unique, sorted — summation set
    phrase_a: list[str] | None = None  # ordered phrase terms
    phrase_b: list[str] | None = None
    bool_op: str | None = None
    slop: int = 0  # phrase mode: ordered window ("a b"~N); 0 = exact
    weights: dict[str, float] | None = None  # term boosts (`tok^2.5`)
    min_match: int = 1  # disjunctive: require ≥ m distinct terms
    # ES match_phrase_prefix: a trailing-* last phrase token.  The
    # parser stores the raw marker; reader entry points resolve it into
    # `variants` (one idf-table TakeOrdered) BEFORE kernels run —
    # kernels have no vocabulary access and fail loud on an unresolved
    # marker.  variants == [] (prefix matched nothing) → no matches.
    phrase_prefix: str | None = None
    variants: list[str] | None = None
    # mode == "bool": the resolved unified-query-string clauses
    # (boolquery.BoolClauses) — built by operators/querystring.py, whose
    # vocabulary expansions need index access, so parse_query never
    # produces this mode itself.  score_terms == clauses.positive_terms.
    bool_clauses: object | None = None


def _fetch_terms(spec: "QuerySpec") -> list[str]:
    """Full posting-fetch set of one spec: scoring terms, boolean-mode
    phrase operands, and (bool mode) must_not terms — whose posting
    lists drive the exclusion set algebra without ever scoring."""
    base = set(spec.score_terms) | set(spec.phrase_a or []) | set(spec.phrase_b or [])
    if spec.bool_clauses is not None:
        base |= set(spec.bool_clauses.all_terms)
    return sorted(base)


def parse_query(
    query_text: str, mode: str, analyzed: bool = False, min_match: int = 1
) -> QuerySpec | None:
    """Reference query parsing (QueryService.java:73-134, 80-104).

    ``analyzed=True`` treats ``query_text`` as whitespace-joined
    POST-ANALYSIS index terms and skips re-analysis — the execution
    mode for prefix/fuzzy rewrites, whose expansions are vocabulary
    terms that a second Porter pass could corrupt (Porter is not
    idempotent: ``university → univers → univ``).  Only the term modes
    take pre-analyzed input; phrase/boolean positions depend on the
    original token stream.

    Term-mode tokens may carry Lucene-style boosts (``tok^2.5``),
    resolved here into ``QuerySpec.weights`` (largest wins on a term
    collision); ``min_match`` (disjunctive only) requires candidates to
    contain at least m distinct query terms (ES minimum_should_match).
    """
    if min_match < 1:
        raise ValueError(f"min_match must be >= 1, got {min_match}")
    if min_match > 1 and mode != "disjunctive":
        raise ValueError(f"min_match needs disjunctive mode, not {mode!r}")
    query_text, weights = parse_query_weights(query_text, mode, analyzed)
    if analyzed:
        if mode not in ("disjunctive", "conjunctive"):
            raise ValueError(
                f"analyzed=True supports disjunctive/conjunctive, not {mode!r}"
            )
        terms = query_text.split()
        if not terms:
            return None
        return QuerySpec(
            mode, sorted(set(terms)), weights=weights, min_match=min_match
        )
    if mode == "boolean":
        m = OPERATOR_PATTERN.search(query_text)
        phrases = PHRASE_PATTERN.findall(query_text)
        if not m or len(phrases) != 2:
            raise ValueError(f"invalid boolean query: {query_text!r}")
        op = m.group(1)
        lt, rt = analyze_text(phrases[0]), analyze_text(phrases[1])
        score = sorted(set(lt)) if op == "NOT" else sorted(set(lt + rt))
        return QuerySpec("boolean", score, lt, rt, op)
    if mode == "near":
        # unordered proximity window (Lucene SpanNearQuery inOrder=false
        # / Indri #uwN): same "a b c"~N surface as phrase, order-free
        # candidate semantics over the DISTINCT term set, BM25 scoring
        pm = PHRASE_PATTERN.search(query_text)
        terms = analyze_text(pm.group(1) if pm else query_text)
        if not terms:
            return None
        return QuerySpec(
            "near", sorted(set(terms)), terms, slop=parse_slop(query_text)
        )
    if mode == "phrase":
        pm = PHRASE_PATTERN.search(query_text)
        text, pprefix = split_phrase_prefix(pm.group(1) if pm else query_text)
        terms = analyze_text(text)
        if not terms and pprefix is None:
            return None
        # `"a b"~N` = ordered sloppy phrase (Lucene ordered SpanNearQuery
        # semantics — an extension; the reference matches exact-adjacent
        # only).  Candidates widen; scoring stays BM25 over the terms.
        # A trailing-* last token (`"incid resp*"`) is ES
        # match_phrase_prefix — stored raw here, resolved by the reader.
        return QuerySpec(
            "phrase", sorted(set(terms)), terms,
            slop=parse_slop(query_text), phrase_prefix=pprefix,
        )
    terms = analyze_query(query_text)
    if not terms:
        return None
    return QuerySpec(
        mode, sorted(set(terms)), weights=weights, min_match=min_match
    )


class Tombstones:
    """Resolved deletion set for ONE index's doc-id space.

    The reference deletes rows in place (its PostgreSQL store); an
    immutable columnar index deletes the LSM way instead — queries
    EXCLUDE tombstoned docs at candidate time (global stats stay as
    built, the standard LSM trade), and ``compact_segments`` removes
    them physically, refreshing N/avgdl/df.  ``conv_ranks`` deletes
    whole conversations (every turn, via the rank bits of the doc id);
    ``doc_ids`` deletes exact (conv, turn) docs.
    """

    __slots__ = ("doc_ids", "conv_ranks")

    def __init__(self, doc_ids: np.ndarray, conv_ranks: np.ndarray):
        self.doc_ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
        self.conv_ranks = np.unique(np.asarray(conv_ranks, dtype=np.int64))

    def keep_mask(self, docs: np.ndarray, turn_bits: int) -> np.ndarray:
        keep = np.ones(docs.size, dtype=bool)
        if self.doc_ids.size:
            keep &= ~np.isin(docs, self.doc_ids, assume_unique=False)
        if self.conv_ranks.size:
            keep &= ~np.isin(docs >> turn_bits, self.conv_ranks)
        return keep

    def mask(self, docs: np.ndarray, turn_bits: int) -> np.ndarray:
        return docs[self.keep_mask(docs, turn_bits)]


def resolve_tombstones(convs_df: DataFrame, items: list) -> Tombstones:
    """Tombstone items → this index's doc-id space.

    ``items`` mixes bare ``conv_id`` strings (delete the whole
    conversation) and ``(conv_id, turn_idx)`` pairs (delete one turn).
    Deletion sets are small (removal requests), so the rank lookup is a
    driver-side collect over the pruned conv table; items naming
    unknown conversations are no-ops (already absent)."""
    from .build import TURN_BITS

    conv_only = [it for it in items if isinstance(it, str)]
    pairs = [tuple(it) for it in items if not isinstance(it, str)]
    need = sorted(set(conv_only) | {c for c, _ in pairs})
    if not need:
        return Tombstones(np.empty(0, np.int64), np.empty(0, np.int64))
    rows = (
        convs_df.filter(F.col("conv_id").isin(need))
        .select("conv_id", "conv_rank")
        .collect()
    )
    rank = {r.conv_id: int(r.conv_rank) for r in rows}
    ranks = [rank[c] for c in conv_only if c in rank]
    doc_ids = [
        (rank[c] << TURN_BITS) | int(t) for c, t in pairs if c in rank
    ]
    return Tombstones(
        np.asarray(doc_ids, dtype=np.int64), np.asarray(ranks, dtype=np.int64)
    )


def _tomb_key(items: list) -> tuple:
    """Canonical memo key for a tombstone item list (strings and
    (conv_id, turn_idx) pairs, order-insensitive)."""
    return tuple(
        sorted((it, -1) if isinstance(it, str) else (str(it[0]), int(it[1]))
               for it in items)
    )


def _per_seg(value, post_pdf: pd.DataFrame):
    """Kernel-side lookup of a resolved exclusion set or search_after
    cursor: the value itself for one index, or — MultiIndex, whose doc
    ids are segment-local — the batch's own segment entry of a per-
    segment dict, keyed by the ``seg`` column."""
    if not isinstance(value, dict):
        return value
    if "seg" not in post_pdf.columns or len(post_pdf) == 0:
        return None
    return value.get(int(post_pdf["seg"].iloc[0]))


def _weighted_idf(idf: dict[str, float], spec: QuerySpec) -> dict[str, float]:
    """Fold query boosts into the idf map: score = Σ (w·idf)·tf_bm25, so
    a pre-scaled map keeps EVERY kernel — including the block-max upper
    bounds TermPostings builds FROM this map — valid with zero kernel
    changes (w > 0 enforced at parse; bounds scale monotonically)."""
    if not spec.weights:
        return idf
    return {t: v * spec.weights.get(t, 1.0) for t, v in idf.items()}


def _topk_after(
    score_lists: dict,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    cand: np.ndarray,
    after: tuple[float, int],
    with_ties: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Deep-pagination cut (search_after): score the WHOLE candidate set
    exactly, drop every (score, doc) at-or-before the cursor in
    (score desc, doc asc) order, then cut top-k.  Scoring all candidates
    is the same cost class as the offset path's page-N overfetch, but
    the group's EMISSION stays ≤ k rows — at page 1000 the offset path
    ships and sorts 1000·k rows per group; this ships k."""
    if cand.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    docs, scores = exact_topk(
        score_lists, idf, avgdl, int(cand.size), candidates=cand
    )
    cs, cd = float(after[0]), int(after[1])
    keep = (scores < cs) | ((scores == cs) & (docs > cd))
    return _cut_topk(docs[keep], scores[keep], k, with_ties)


def _phrase_cand(spec: QuerySpec, plists: dict) -> np.ndarray:
    """Phrase-mode candidate docs of one group.  With resolved
    match_phrase_prefix variants: the union over variants v of docs
    where ``phrase_a + [v]`` occurs (each chain runs the vectorized
    phrase kernel; the variant count is PREFIX_CAP-bounded)."""
    if spec.phrase_prefix is not None:
        raise ValueError(
            "unresolved phrase prefix — reader entry points must expand "
            "it against the vocabulary before kernels run"
        )
    if spec.variants is not None:
        sets = [
            phrase_candidates(list(spec.phrase_a or []) + [v], plists, spec.slop)
            for v in spec.variants
        ]
        sets = [s for s in sets if s.size]
        if not sets:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(sets))
    return phrase_candidates(spec.phrase_a or [], plists, spec.slop)


def _parse_batch(
    queries: list[tuple], default_k: int, analyzed: bool = False
) -> list[tuple[int, QuerySpec, int]]:
    """(query_text, mode[, k]) list → [(caller_index, spec, k)] for the
    parseable queries — shared by both readers' batch paths.

    An element may instead be ``(QuerySpec[, k])`` — a PRE-COMPILED
    spec (e.g. a unified query string from ``compile_query_string``,
    whose vocabulary expansion cannot happen here), passed through
    unchanged."""
    parsed = []
    for q in queries:
        if isinstance(q[0], QuerySpec):
            if len(q) > 1 and not isinstance(q[1], int):
                raise ValueError(
                    "a pre-compiled batch element is (QuerySpec[, k]) — "
                    f"got second item {q[1]!r} (the spec already carries "
                    "its mode)"
                )
            parsed.append((q[0], int(q[1]) if len(q) > 1 else default_k))
        else:
            parsed.append((
                parse_query(q[0], q[1], analyzed=analyzed),
                (q[2] if len(q) > 2 else default_k),
            ))
    return [(i, s, kk) for i, (s, kk) in enumerate(parsed) if s is not None]


def _facet_join(cand: DataFrame, meta: DataFrame, facet_col: str) -> DataFrame:
    """(conv_id, turn_idx) match set ⋈ column-pruned metadata → per-value
    counts — shared by both readers' facet_counts."""
    return (
        cand.join(
            meta.select("conv_id", "turn_idx", facet_col),
            ["conv_id", "turn_idx"],
        )
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _batch_term_sets(specs: list[tuple[int, QuerySpec, int]]) -> tuple[set, set]:
    fetch_terms: set[str] = set()
    score_terms: set[str] = set()
    for _, s, _ in specs:
        fetch_terms |= set(_fetch_terms(s))
        score_terms |= set(s.score_terms)
    return fetch_terms, score_terms


def _collapse_convs(
    docs: np.ndarray,
    scores: np.ndarray,
    k: int,
    turn_bits: int,
    with_ties: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """(all scored turns, score-desc/doc-asc order) → one row per
    CONVERSATION (its best turn — highest score, lowest turn on ties),
    cut to the group-local top-k conversations.  Representative doc ids
    order like conv ids (different convs differ in the high bits), so
    the shared :func:`kernels._cut_topk` tie policy applies verbatim."""
    from .kernels import _cut_topk

    if docs.size == 0:
        return docs, scores
    convs = docs >> turn_bits
    # docs arrive sorted (score desc, doc asc): the FIRST occurrence of
    # each conv is its best turn under exactly that tie-break
    _, first = np.unique(convs, return_index=True)
    return _cut_topk(docs[first], scores[first], k, with_ties)


def _make_collapse_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    with_ties: bool = False,
    exclude=None,
    turn_bits: int = TURN_BITS,
    after=None,
):
    """Per-group kernel for conversation-collapsed top-k (the field-
    collapsing analog: rank CONVERSATIONS by their best matching turn).
    Collapse is group-LOCAL because ``group = pmod(xxhash64(conv_id))``
    — a conversation never spans groups within one index (MultiIndex
    re-collapses across segments with a window).  Scores every
    candidate exactly (no block pruning — the collapse needs each
    conv's max, which a turn-level top-k cut could drop).  ``after``
    (resolved search_after cursor) filters COLLAPSED conv rows — the
    cursor names the previous page's last conversation (its
    representative turn), so the filter runs between collapse and cut,
    never on raw turns."""

    def collapse(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                 "score": pd.array([], dtype="float64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        docs, scores = _scored_candidates(
            spec, idf, plists, avgdl, _per_seg(exclude, post_pdf), turn_bits, allow
        )
        aft = _per_seg(after, post_pdf)
        if aft is None:
            docs, scores = _collapse_convs(docs, scores, k, turn_bits, with_ties)
        else:
            docs, scores = _collapse_convs(
                docs, scores, 1 << 62, turn_bits, False
            )
            cs, cd = float(aft[0]), int(aft[1])
            keep = (scores < cs) | ((scores == cs) & (docs > cd))
            docs, scores = _cut_topk(docs[keep], scores[keep], k, with_ties)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    return collapse


def _rank_per_query(labeled: DataFrame, specs: list[tuple[int, QuerySpec, int]]) -> DataFrame:
    """Candidate rows (query_id, conv_id, turn_idx, score) → per-query
    top-k via a query_id-partitioned rank (WindowGroupLimit: partial
    per-partition top-k before the exchange, never one global task).
    The kernel emits qid = POSITION in the specs list; map position →
    that query's k for the rank filter, and position → the caller's
    original list index for the output."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")
    )
    ks_df = F.create_map(
        *[x for pos, (_, _, kk) in enumerate(specs) for x in (F.lit(pos), F.lit(kk))]
    )
    qid_map = F.create_map(
        *[x for pos, (i, _, _) in enumerate(specs) for x in (F.lit(pos), F.lit(i))]
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= ks_df[F.col("query_id")])
        .select(
            qid_map[F.col("query_id")].cast("int").alias("query_id"),
            "conv_id",
            "turn_idx",
            "score",
        )
    )


LABELED_SCHEMA = "conv_id string, turn_idx int, score double"


def _grouped_apply(post: DataFrame, allow: DataFrame | None, keys: tuple, fn, schema: str) -> DataFrame:
    """``groupBy(keys).applyInPandas`` over the pruned postings, or — when
    a scope's allow side is given — the cogroup of both on the SAME keys
    (the allow side shuffles once, partitioned like the postings, never
    via the driver).  ``fn(key, post_pdf, allow)`` gets ``allow`` as a
    sorted doc-id array, or None without a scope."""
    if allow is None:
        def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(key, pdf, None)

        return post.groupBy(*keys).applyInPandas(kernel, schema=schema)

    def kernel(key: tuple, pdf: pd.DataFrame, allow_pdf: pd.DataFrame) -> pd.DataFrame:
        return fn(key, pdf, _allow_arr(allow_pdf))

    return (
        post.groupBy(*keys)
        .cogroup(allow.groupBy(*keys))
        .applyInPandas(kernel, schema=schema)
    )


class IndexReader:
    """The query plans, written once for :class:`CompressedIndex` and
    :class:`~.multi.MultiIndex`.  Each plan is: parse → resolve the
    spec → broadcast idf → ONE grouped kernel pass over the
    bucket-pruned postings → label doc ids → global cut.  The readers
    differ only in these hooks:

    * ``_postings(terms)`` — the bucket-pruned posting blocks of ``terms``;
    * ``_grouped(post, scope, fn, schema)`` — run ``fn(post_pdf, allow)``
      once per group (cogrouped with the scope's doc ids when given);
    * ``_exclude(tombstones)`` — the resolved exclusion set kernels see;
    * ``tie_safe`` — kernels must emit boundary score ties, because doc-id
      order is not the final (conv_id, turn_idx) tie-break order;
    * ``_label``, ``scope_docs``, ``idf_map``/``df_map``,
      ``_resolve_after``, ``_vocab_topdf`` and ``_fuzzy_rows``.
    """

    turn_bits: int = TURN_BITS  # dense-scheme indexes never decode rank bits

    def topk_cached(
        self, query_text: str, mode: str = "disjunctive", k: int = 10
    ) -> list:
        """Collected top-k through a 500-entry LRU result cache
        (SearchController.java:33-36 analog, minus the TTL — indexes and
        committed segments are immutable)."""
        key = (query_text, mode, k)
        hit = self._results.get(key)
        if hit is not None:
            self._results.move_to_end(key)
            return hit
        rows = self.topk(query_text, mode, k).collect()
        self._results[key] = rows
        if len(self._results) > RESULT_CACHE_SIZE:
            self._results.popitem(last=False)
        return rows

    # -- vocabulary expansion ----------------------------------------

    def expand_prefixes(self, query_text: str, limit: int = PREFIX_CAP) -> str:
        """Rewrite trailing-``*`` tokens into their matching index terms
        (``kuber* pod`` → ``kubernetes kuberctl pod``) — the Lucene
        multi-term-query contract: the wildcard matches the POST-STEM
        index vocabulary (wildcard terms skip analysis), expansion is
        capped at ``limit`` terms per prefix (highest df first, term asc
        ties — the most selective rewrite), and unmatched prefixes drop
        out.  The rewritten string feeds the ordinary query paths, so
        expansion composes with scope/tombstones/batch for free.

        Physically one scan of the one-row-per-term idf table with the
        ``StartsWith`` filters pushed to parquet (the term-hash bucket
        layout cannot prune a prefix — the vocabulary table is the
        right side to pay that scan on, postings stay bucket-pruned)."""
        toks, prefixes = split_prefix_tokens(query_text)
        if not prefixes:
            return query_text
        return rewrite_with_expansions(
            toks, self._prefix_expansions(prefixes, limit)
        )

    def _prefix_expansions(
        self, prefixes: list[str], limit: int
    ) -> dict[str, list[str]]:
        return self._vocab_topdf(
            [(p, F.col("term").startswith(p)) for p in prefixes], limit
        )

    def _wildcard_expansions(
        self, patterns: list[str], limit: int
    ) -> dict[str, list[str]]:
        """General wildcard (``*``/``?`` anywhere) expansion over the
        post-stem vocabulary — Lucene WildcardQuery semantics.  The
        longest literal prefix is pushed as an extra StartsWith (prunes
        the scan unless the pattern leads with a wildcard, Lucene's own
        cost cliff); the LIKE itself evaluates in codegen."""
        items = []
        for p in patterns:
            cond = F.col("term").like(wildcard_to_like(p))
            lit = wildcard_literal_prefix(p)
            if lit:
                cond = F.col("term").startswith(lit) & cond
            items.append((p, cond))
        return self._vocab_topdf(items, limit)

    def _regexp_expansions(
        self, patterns: list[str], limit: int
    ) -> dict[str, list[str]]:
        """Regexp term (``/pattern/``) expansion — Lucene RegexpQuery
        semantics: the pattern must match the WHOLE vocabulary term
        (anchored).  Evaluated JVM-side via ``rlike``; patterns are
        validated driver-side first so an invalid regex fails loud with
        a Python error, not an opaque executor stack."""
        import re as _re

        for p in patterns:
            try:
                _re.compile(p)
            except _re.error as e:
                raise ValueError(f"invalid regexp term /{p}/: {e}") from e
        return self._vocab_topdf(
            [(p, F.col("term").rlike(f"^(?:{p})$")) for p in patterns], limit
        )

    def expand_fuzzy(self, query_text: str, limit: int = FUZZY_CAP) -> str:
        """Rewrite trailing-``~`` tokens into their edit-distance-≤1
        vocabulary neighbors (``kubernets~`` → ``kubernetes ...``) —
        Lucene fuzzy-query semantics with the SymSpell delete-1 scheme
        for candidate generation (see ``index/fuzzy.py``): exact term
        first, then df desc / term asc, capped at ``limit``; unmatched
        terms drop out.  The rewrite feeds the ordinary analyzed paths,
        composing with scope/tombstones/batch like prefix expansion."""
        toks, terms = split_fuzzy_tokens(query_text)
        if not terms:
            return query_text
        return rewrite_fuzzy(toks, self._fuzzy_expansions(terms, limit))

    def _fuzzy_expansions(
        self, terms: list[str], limit: int
    ) -> dict[str, list[str]]:
        cand = self._fuzzy_rows(terms)
        expansions: dict[str, list[str]] = {}
        for t in terms:
            exp = rank_fuzzy_candidates(t, cand.get(t, []), limit)
            if exp:
                expansions[t] = exp
        return expansions

    def expand_query(
        self,
        query_text: str,
        prefix_limit: int = PREFIX_CAP,
        fuzzy_limit: int = FUZZY_CAP,
    ) -> str | None:
        """One-pass EXECUTABLE rewrite of a query containing ``*``/``?``
        /``~``/``/…/`` markers, or None when it has none: marker tokens
        splice in their vocabulary expansions (prefix, fuzzy, general
        wildcard, regexp), plain tokens run through the analyzer
        ONCE, and the result must execute with ``analyzed=True`` —
        vocabulary terms are analysis fixed points only by accident
        (Porter is not idempotent: ``university → univers → univ``), so
        a second analysis pass would corrupt them."""
        cls = classify_expansion_tokens(query_text)
        prefixes = sorted({v for kk, v in cls if kk == "prefix"})
        fuzzies = sorted({v for kk, v in cls if kk == "fuzzy"})
        wilds = sorted({v for kk, v in cls if kk == "wildcard"})
        rexps = sorted({v for kk, v in cls if kk == "regexp"})
        if not prefixes and not fuzzies and not wilds and not rexps:
            return None
        return assemble_expanded(
            cls,
            self._prefix_expansions(prefixes, prefix_limit) if prefixes else {},
            self._fuzzy_expansions(fuzzies, fuzzy_limit) if fuzzies else {},
            self._wildcard_expansions(wilds, prefix_limit) if wilds else {},
            self._regexp_expansions(rexps, prefix_limit) if rexps else {},
        )

    def _resolve_spec(self, spec: "QuerySpec | None") -> "QuerySpec | None":
        """Resolve a phrase-prefix marker (ES ``match_phrase_prefix``:
        ``"incid resp*"``) into its vocabulary variants — one idf-table
        TakeOrdered like :meth:`expand_prefixes` — folding them into the
        scoring set.  Kernels require the resolved form (they have no
        vocabulary access); the variants run in every group's kernel, so
        on a MultiIndex a variant present only in a newer segment still
        matches."""
        if spec is None or spec.phrase_prefix is None:
            return spec
        import dataclasses

        exp = self._prefix_expansions([spec.phrase_prefix], PREFIX_CAP).get(
            spec.phrase_prefix, []
        )
        return dataclasses.replace(
            spec,
            phrase_prefix=None,
            variants=exp,
            score_terms=sorted(set((spec.phrase_a or []) + exp)),
        )

    # -- query -------------------------------------------------------

    def _parse(
        self, query_text: str, mode: str, analyzed: bool, min_match: int = 1
    ) -> "QuerySpec | None":
        return self._resolve_spec(
            parse_query(query_text, mode, analyzed=analyzed, min_match=min_match)
        )

    def _ranked(self, cand: DataFrame, k: int) -> DataFrame:
        """Kernel candidates → labeled global top-k (TakeOrderedAndProject)."""
        return (
            self._label(cand)
            .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
            .limit(k)
        )

    def topk(
        self,
        query_text: str,
        mode: str = "disjunctive",
        k: int = 10,
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        search_after: tuple | None = None,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Top-k → DataFrame(conv_id, turn_idx, score), oracle-identical.

        ``tombstones`` (bare conv_id strings and/or (conv_id, turn_idx)
        pairs) excludes deleted docs at candidate time; remaining scores
        keep the as-built global stats until a compaction removes the
        docs physically (see :class:`Tombstones`).

        ``scope`` (a DataFrame with conv_id/turn_idx columns — typically
        the corpus metadata filtered by a structured predicate: role,
        tool, a ts range) restricts RESULTS to those turns.  Scores keep
        the corpus-global stats — Lucene/Elasticsearch filter-context
        semantics, where filters never affect ranking.

        ``min_match`` (disjunctive) keeps only docs matching ≥ m
        distinct query terms (ES minimum_should_match).  Term tokens
        may carry ``^w`` boosts (``kubernetes^2 pod``) multiplying
        their idf contribution (Lucene boost semantics).

        ``search_after`` = (score, conv_id, turn_idx) of the previous
        page's LAST row: returns the k results strictly after it in
        (score desc, conv_id, turn_idx) rank order — offset-free deep
        pagination.  Page N costs one candidate-scoring pass like page
        1 (never an N·k overfetch), and each group ships ≤ k rows.
        The cursor score must be the EXACT float the engine returned
        (the ES search_after contract: exact sort values) — a
        display-rounded score can land on the wrong side of the strict
        comparison and duplicate or drop a boundary row."""
        if spec is None:
            spec = self._parse(query_text, mode, analyzed, min_match)
        if spec is None:
            return self.spark.createDataFrame([], LABELED_SCHEMA)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        fn = _make_group_kernel(
            spec, idf, self.avgdl, k, with_ties=self.tie_safe,
            exclude=self._exclude(tombstones), turn_bits=self.turn_bits,
            after=self._resolve_after(search_after),
        )
        post = self._postings(_fetch_terms(spec))
        return self._ranked(self._grouped(post, scope, fn, RESULT_SCHEMA), k)

    def match_count(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> int:
        """Total matching documents (the reference's totalResults field,
        served by every /api/search response for pagination): size of
        the candidate set :meth:`topk` ranks, via one grouped count pass
        over the same bucket-pruned postings scan — groups (and
        segments) hold disjoint documents, so the counts sum."""
        if spec is None:
            spec = self._parse(query_text, mode, analyzed, min_match)
        if spec is None:
            return 0
        fn = _make_count_kernel(
            spec, self.idf_map(spec.score_terms), self.avgdl,
            exclude=self._exclude(tombstones), turn_bits=self.turn_bits,
        )
        post = self._postings(_fetch_terms(spec))
        row = self._grouped(post, scope, fn, "n long").agg(F.sum("n")).collect()[0]
        return int(row[0] or 0)

    def matches(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """ALL matching documents → DataFrame(conv_id, turn_idx) — the
        candidate set :meth:`match_count` sizes, materialized for
        faceting and metadata joins.  Output is O(matches)."""
        if spec is None:
            spec = self._parse(query_text, mode, analyzed, min_match)
        if spec is None:
            return self.spark.createDataFrame([], "conv_id string, turn_idx int")
        fn = _make_matches_kernel(
            spec, self.idf_map(spec.score_terms), self.avgdl,
            exclude=self._exclude(tombstones), turn_bits=self.turn_bits,
        )
        cand = self._grouped(self._postings(_fetch_terms(spec)), scope, fn, MATCHES_SCHEMA)
        return self._label(cand.withColumn("score", F.lit(0.0))).drop("score")

    def matches_scored(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """ALL matching documents WITH exact BM25 scores → DataFrame
        (conv_id, turn_idx, score) — :meth:`matches` plus the score
        column: the exhaustive-scoring feed for rescoring operators
        whose final order is not monotone in BM25 (recency decay —
        ``operators/recency.py``).  Output is O(matches); kernel cost
        is the same O(postings) class as :meth:`match_count`."""
        if spec is None:
            spec = self._parse(query_text, mode, analyzed)
        if spec is None:
            return self.spark.createDataFrame([], LABELED_SCHEMA)
        fn = _make_scored_matches_kernel(
            spec, _weighted_idf(self.idf_map(spec.score_terms), spec), self.avgdl,
            exclude=self._exclude(tombstones), turn_bits=self.turn_bits,
        )
        post = self._postings(_fetch_terms(spec))
        return self._label(self._grouped(post, scope, fn, RESULT_SCHEMA))

    def facet_counts(
        self,
        query_text: str,
        meta: DataFrame,
        facet_col: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Matching-doc counts grouped by a metadata column → DataFrame
        (facet_col, n) — the search-facet panel (count per role, tool,
        day, …) for one query.

        ``meta`` carries (conv_id, turn_idx, facet_col); pass the corpus
        with a derived column for computed facets (e.g. ``date_trunc``
        of ts).  The join input is the MATCH set, not the corpus, so
        Catalyst/AQE broadcasts it when small; the metadata scan is
        column-pruned to the three needed columns."""
        cand = self.matches(
            query_text, mode, tombstones=tombstones, scope=scope,
            analyzed=analyzed, min_match=min_match, spec=spec,
        )
        return _facet_join(cand, meta, facet_col)

    def topk_batch(
        self,
        queries: list[tuple[str, str] | tuple[str, str, int]],
        k: int = 10,
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
    ) -> DataFrame:
        """Top-k for MANY queries in ONE job →
        DataFrame(query_id, conv_id, turn_idx, score).

        ``queries`` is a list of (query_text, mode[, k]); query_id is
        the list position.  The reference serves one query per request
        (QueryService.java) — on Spark the per-job fixed overhead makes
        that the wrong unit, so the batch path prunes the postings scan
        to the UNION of all queries' term buckets, decodes each group's
        posting blocks once, scores every query against them in the same
        grouped kernel pass, and takes per-query top-k via
        :func:`_rank_per_query`.  Results are row-identical to calling
        :meth:`topk` per query (pinned by tests).  ``scope`` applies one
        shared metadata filter to every query of the batch."""
        specs = [
            (i, self._resolve_spec(sp), kk)
            for i, sp, kk in _parse_batch(queries, k, analyzed=analyzed)
        ]
        if not specs:
            return self.spark.createDataFrame(
                [], "query_id int, conv_id string, turn_idx int, score double"
            )
        fetch_terms, score_terms = _batch_term_sets(specs)
        merged_idf = self.idf_map(sorted(score_terms))
        # per-query maps carry that query's boosts (plists stay built
        # from the unscaled merged map — weighted specs score exact)
        idfs = [
            _weighted_idf({t: merged_idf[t] for t in s.score_terms}, s)
            for _, s, _ in specs
        ]
        fn = _make_batch_kernel(
            [s for _, s, _ in specs],
            idfs,
            merged_idf,
            self.avgdl,
            [kk for _, _, kk in specs],
            with_ties=self.tie_safe,
            exclude=self._exclude(tombstones),
            turn_bits=self.turn_bits,
        )
        post = self._postings(sorted(fetch_terms))
        cand = self._grouped(post, scope, fn, BATCH_RESULT_SCHEMA)
        return _rank_per_query(self._label(cand, extra=("query_id",)), specs)


class CompressedIndex(IndexReader):
    """Reader over an index directory produced by :class:`IndexBuilder`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.paths = IndexPaths(root)
        with open(self.paths.meta) as f:
            self.meta = json.load(f)
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"])
        self.num_buckets = int(self.meta["num_buckets"])
        if int(self.meta.get("format_version", 0)) < 5:
            raise ValueError(
                f"index at {root} is format v{self.meta.get('format_version')}: "
                "v5 readers score from inline per-posting doclens "
                "(blocks carry dl_blob) — rebuild the index"
            )
        self.scheme = self.meta.get("docid_scheme", "dense")
        # conv_rank doc ids are order-isomorphic to (conv_id, turn_idx),
        # letting kernels cut exactly at k with doc-id tiebreaks.  An
        # incremental extend that appended lexicographically-earlier
        # conversations breaks the isomorphism (extend.py records it in
        # meta); then the kernels must return score-ties at the boundary
        # so the final ORDER BY conv_id resolves them.
        self.tie_safe = self.scheme != "conv_rank" or not self.meta.get(
            "docid_order_isomorphic", True
        )
        if self.scheme == "conv_rank":
            self.turn_bits = int(self.meta["turn_bits"])
            # every writer stamps build.TURN_BITS; tombstone ENCODING
            # (resolve_tombstones) and extend/compact kernels use the
            # module constant while masks use self.turn_bits — fail loud
            # at load if an index ever diverges, instead of silently
            # masking the wrong conv ranks
            if self.turn_bits != TURN_BITS:
                raise ValueError(
                    f"index {root} records turn_bits={self.turn_bits} but "
                    f"this build of the engine encodes doc ids with "
                    f"TURN_BITS={TURN_BITS}; rebuild the index or match "
                    f"the engine version that wrote it"
                )
            self._convs = spark.read.parquet(self.paths.convs).cache()
        else:
            # streaming/dense builds carry an explicit per-doc map
            self._docmap = spark.read.parquet(self.paths.docmap).cache()
        self._idf_cache: dict[str, float] = {}
        self._df_cache: dict[str, int] = {}
        self._tomb_memo: dict[tuple, Tombstones] = {}
        self._after_memo: dict[tuple, int] = {}
        self._syn_memo: dict[str, list[str]] | None = None
        from collections import OrderedDict

        self._results: "OrderedDict[tuple, list]" = OrderedDict()
        # persistent DataFrame handles: the parquet file index (directory
        # listing over NUM_BUCKETS partition dirs) is built once and
        # reused by every query instead of re-listing per query.
        # Explicit schemas: an index over an all-stopword corpus has an
        # EMPTY idf table, which schema inference cannot read.
        from .build import BLOCKS_SCHEMA

        self._blocks = spark.read.schema(BLOCKS_SCHEMA + ", bucket int").parquet(
            self.paths.postings
        )
        self._idf = spark.read.schema("term string, df long, idf double, bucket int").parquet(
            self.paths.idf
        )

    def warm(self) -> None:
        """Materialize the lookup caches (convs/docmap).

        Doclens need no warming since v5 — they ride inside the posting
        blocks the query already reads."""
        if self.scheme == "conv_rank":
            self._convs.count()
        else:
            self._docmap.count()

    def _label(self, cand: DataFrame, extra: tuple = ()) -> DataFrame:
        """(doc_id, score[, extra…]) → (extra…, conv_id, turn_idx, score)."""
        cols = [*extra, "conv_id", "turn_idx", "score"]
        if self.scheme == "conv_rank":
            return (
                cand.withColumn(
                    "conv_rank", F.shiftrightunsigned("doc_id", self.turn_bits)
                )
                .withColumn(
                    "turn_idx",
                    F.col("doc_id").bitwiseAND(F.lit((1 << self.turn_bits) - 1)).cast("int"),
                )
                .join(self._convs.select("conv_id", "conv_rank"), "conv_rank")
                .select(*cols)
            )
        return cand.join(
            self._docmap.select("doc_id", "conv_id", "turn_idx"), "doc_id"
        ).select(*cols)

    # -- lookups -----------------------------------------------------

    def _buckets(self, terms: list[str]) -> list[int]:
        # driver-side XXH64 — identical to the writer's Spark xxhash64,
        # no job launch (parity pinned by tests/test_xxhash.py)
        return sorted({term_bucket(t, self.num_buckets) for t in terms})

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        """Bucket-pruned idf lookup; absent terms get df=0 idf (oracle parity)."""
        import math

        uniq = sorted(set(terms))
        if not uniq:
            return {}
        missing = [t for t in uniq if t not in self._idf_cache]
        if missing:
            buckets = self._buckets(missing)
            rows = (
                self._idf.filter(
                    F.col("bucket").isin(buckets) & F.col("term").isin(missing)
                )
                .select("term", "idf", "df")
                .collect()
            )
            found = {r["term"]: (float(r["idf"]), int(r["df"])) for r in rows}
            absent = math.log((1.0 + self.n_docs) / 1.0) + 1.0
            for t in missing:
                self._idf_cache[t], self._df_cache[t] = found.get(t, (absent, 0))
        return {t: self._idf_cache[t] for t in uniq}

    def df_map(self, terms: list[str]) -> dict[str, int]:
        """Per-term document frequency (same bucket-pruned scan as
        :meth:`idf_map`, shared cache); absent terms get df=0."""
        self.idf_map(terms)
        return {t: self._df_cache[t] for t in sorted(set(terms))}

    def postings_df(self, terms: list[str]) -> DataFrame:
        buckets = self._buckets(terms)
        return self._blocks.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    _postings = postings_df

    def _grouped(self, post: DataFrame, scope: DataFrame | None, fn, schema: str) -> DataFrame:
        """One kernel pass per doc group (v5: single-sided — doclens
        ride inline in the blocks, so the only exchange carries the
        bucket-pruned postings); scoped, cogrouped with the predicate's
        doc ids on the same ``group`` key."""
        allow = None if scope is None else self.scope_docs(scope)
        return _grouped_apply(
            post, allow, ("group",), lambda key, pdf, a: fn(pdf, a), schema
        )

    def _vocab_topdf(
        self, items: list[tuple[str, "F.Column"]], limit: int
    ) -> dict[str, list[str]]:
        """Per-key TakeOrdered over the one-row-per-term idf table: the
        df-desc cap runs DISTRIBUTED, so the driver receives at most
        ``limit`` rows per key — a short pattern over a 10^9-term
        vocabulary must not collect millions of matches before capping.
        ``items`` = (key, boolean filter over the vocabulary)."""
        from functools import reduce

        parts = [
            self._idf.filter(cond)
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(limit)
            .select(F.lit(key).alias("key"), "term", "df")
            for key, cond in items
        ]
        rows = reduce(DataFrame.unionByName, parts).collect()
        by_key: dict[str, list[tuple[int, str]]] = {}
        for r in rows:  # union row order is unspecified — re-rank driver-side
            by_key.setdefault(r["key"], []).append((int(r["df"]), r["term"]))
        return {
            p: [t for _df, t in sorted(hits, key=lambda x: (-x[0], x[1]))]
            for p, hits in by_key.items()
        }

    def _fuzzy_rows(self, terms: list[str]) -> dict[str, list[tuple[str, int]]]:
        """Delete-1 collision candidates per fuzzy query term →
        {term: [(vocab_term, df), ...]} (UNVERIFIED — the caller runs
        the exact ed≤1 check).  One bucket-pruned scan of the persisted
        sidecar when present (``index/fuzzy.py``); otherwise variants
        derive from the idf table per query — a full vocabulary scan,
        documented as the small-index fallback only."""
        per_term = {t: set(deletions1(t)) | {t} for t in terms}
        all_vars = sorted(set().union(*per_term.values()))
        fuzzy_dir = os.path.join(self.paths.root, "fuzzy")
        if os.path.isdir(fuzzy_dir):
            from .fuzzy import FUZZY_SCHEMA

            vb = sorted({term_bucket(v, self.num_buckets) for v in all_vars})
            rows = (
                self.spark.read.schema(FUZZY_SCHEMA).parquet(fuzzy_dir)
                .filter(F.col("vbucket").isin(vb) & F.col("variant").isin(all_vars))
                .select("variant", "term", "df")
                .collect()
            )
        else:
            from .fuzzy import VARIANTS_EXPR

            rows = (
                self._idf.select("term", "df")
                .withColumn("variant", F.explode(F.expr(VARIANTS_EXPR)))
                .filter(F.col("variant").isin(all_vars))
                .select("variant", "term", "df")
                .collect()
            )
        by_var: dict[str, list[tuple[str, int]]] = {}
        for r in rows:
            by_var.setdefault(r["variant"], []).append((r["term"], int(r["df"])))
        out: dict[str, list[tuple[str, int]]] = {}
        for t, tv in per_term.items():
            seen: dict[str, int] = {}
            for v in tv:
                seen.update(by_var.get(v, ()))
            out[t] = list(seen.items())
        return out

    def expand_synonyms(
        self, query_text: str, mapping: dict | None = None,
        analyzed: bool = False,
    ) -> str:
        """Analyzed rewrite splicing each query term's synonyms in after
        it (``index/synonyms.py`` — the Lucene SynonymGraphFilter
        query-time shape).  Execute the result with ``analyzed=True``
        (disjunctive — OR-semantics is what a synonym means; a
        conjunctive query would REQUIRE every synonym).  ``mapping``
        (raw words) overrides the persisted sidecar; with neither, the
        query passes through unchanged.  ``analyzed=True`` treats the
        input as already-analyzed terms (composition with a prior
        prefix/fuzzy ``expand_query`` pass, whose output must not be
        re-stemmed)."""
        from .synonyms import analyze_mapping, expand_terms, load_synonyms

        if mapping is not None:
            syn = analyze_mapping(mapping)
        else:
            if self._syn_memo is None:
                self._syn_memo = load_synonyms(self.spark, self.paths.root)
            syn = self._syn_memo
        terms = query_text.split() if analyzed else analyze_query(query_text)
        return " ".join(expand_terms(terms, syn))

    # -- query -------------------------------------------------------

    def _resolve_tomb(self, tombstones) -> "Tombstones | None":
        if not tombstones:
            return None
        if self.scheme != "conv_rank":
            raise ValueError(
                "tombstones need the conv_rank doc-id scheme (dense "
                "streaming indexes: rebuild or compact first)"
            )
        # memo: the same deletion list arrives on every topk/match_count
        # call of a request (service.search resolves it twice otherwise)
        # — one small collect job per distinct list, not per call
        key = _tomb_key(tombstones)
        hit = self._tomb_memo.get(key)
        if hit is None:
            hit = resolve_tombstones(self._convs, tombstones)
            self._tomb_memo[key] = hit
        return hit

    _exclude = _resolve_tomb

    def _resolve_after(self, search_after) -> tuple[float, int] | None:
        """(score, conv_id, turn_idx) cursor → (score, cursor_doc_id) in
        THIS index's doc-id space (search_after deep pagination).

        conv_rank assignment is order-isomorphic to conv_id (pinned by
        tests), so "strictly after the cursor" is exactly
        ``doc_id > cdoc`` at equal score.  A cursor conversation ABSENT
        from the index (e.g. its docs live in another segment) still
        cuts correctly through the boundary rank r = |{convs < conv}|:
        every doc after the cursor has ``doc_id >= r << turn_bits``,
        i.e. ``doc_id > (r << turn_bits) - 1``.  One small pruned-scan
        job per distinct cursor, memoized."""
        if search_after is None:
            return None
        if self.scheme != "conv_rank":
            raise ValueError(
                "search_after needs the conv_rank doc-id scheme (dense "
                "streaming indexes: compact first)"
            )
        if self.tie_safe:
            raise ValueError(
                "search_after needs doc-id order isomorphic to (conv_id, "
                "turn_idx); this index's meta records the isomorphism "
                "broken (out-of-order extend) — compact first"
            )
        score, conv_id, turn_idx = search_after
        key = (str(conv_id), int(turn_idx))
        cdoc = self._after_memo.get(key)
        if cdoc is None:
            rows = (
                self._convs.filter(F.col("conv_id") == conv_id)
                .select("conv_rank")
                .collect()
            )
            if rows:
                cdoc = (int(rows[0][0]) << self.turn_bits) | int(turn_idx)
            else:
                r = self._convs.filter(F.col("conv_id") < conv_id).count()
                cdoc = (r << self.turn_bits) - 1
            self._after_memo[key] = cdoc
        return (float(score), cdoc)

    def scope_docs(self, turns: DataFrame) -> DataFrame:
        """Resolve a metadata predicate's matching turns to kernel
        coordinates: DataFrame(conv_id, turn_idx, …) → (group, doc_id).

        This is the distributed half of scoped search — the caller
        filters the corpus METADATA (column-pruned, predicate pushed to
        its parquet scan, never the text column) and hands the matching
        keys here; the join against the thin convs/docmap table and the
        group-keyed shuffle carry only the docs that PASS the predicate,
        so cost tracks filter selectivity, not corpus size.  No driver
        collect anywhere (contrast :func:`resolve_tombstones`, which is
        sized for small deletion lists)."""
        keys = turns.select("conv_id", "turn_idx")
        if self.scheme == "conv_rank":
            return keys.join(self._convs, "conv_id").select(
                "group",
                (F.shiftleft(F.col("conv_rank"), self.turn_bits) + F.col("turn_idx"))
                .cast("long")
                .alias("doc_id"),
            )
        return keys.join(self._docmap, ["conv_id", "turn_idx"]).select(
            "group", "doc_id"
        )

    def topk_conversations(
        self,
        query_text: str,
        mode: str = "disjunctive",
        k: int = 10,
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        search_after: tuple | None = None,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Conversation-collapsed top-k → DataFrame(conv_id, turn_idx,
        score): rank CONVERSATIONS by their best-matching turn (the
        Elasticsearch field-collapsing analog — 'show me conversations
        about X', one row per conv, its best turn as representative).

        Exact: each group scores all candidates and collapses to its
        local top-k conversations (convs never span groups — the group
        key is a conv_id hash), so at most G·k rows reach the global
        TakeOrdered.  Composes with tombstones/scope/analyzed/
        min_match/boosts/search_after like :meth:`topk` (the
        search_after cursor names the previous page's last CONVERSATION
        via its representative turn)."""
        if self.scheme != "conv_rank":
            raise ValueError(
                "topk_conversations needs the conv_rank doc-id scheme — the "
                "kernel collapses on the rank bits (dense streaming indexes: "
                "compact first)"
            )
        if spec is None:
            spec = self._parse(query_text, mode, analyzed, min_match)
        if spec is None:
            return self.spark.createDataFrame([], LABELED_SCHEMA)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        fn = _make_collapse_kernel(
            spec, idf, self.avgdl, k, with_ties=self.tie_safe,
            exclude=self._exclude(tombstones), turn_bits=self.turn_bits,
            after=self._resolve_after(search_after),
        )
        post = self._postings(_fetch_terms(spec))
        return self._ranked(self._grouped(post, scope, fn, RESULT_SCHEMA), k)

    def _doc_coords(self, conv_id: str, turn_idx: int) -> tuple[int, int] | None:
        """(group, doc_id) of one (conv_id, turn_idx), or None when the
        conversation is absent from this index — one pruned lookup job
        on the thin convs/docmap table (diagnostic path, not cached)."""
        if self.scheme == "conv_rank":
            rows = (
                self._convs.filter(F.col("conv_id") == conv_id)
                .select("conv_rank", "group")
                .collect()
            )
            if not rows:
                return None
            return int(rows[0]["group"]), (
                (int(rows[0]["conv_rank"]) << self.turn_bits) | int(turn_idx)
            )
        rows = (
            self._docmap.filter(
                (F.col("conv_id") == conv_id) & (F.col("turn_idx") == int(turn_idx))
            )
            .select("group", "doc_id")
            .collect()
        )
        if not rows:
            return None
        return int(rows[0]["group"]), int(rows[0]["doc_id"])

    def _explain_rows(
        self, spec: QuerySpec, idf: dict[str, float], avgdl: float,
        group: int, doc_id: int,
    ) -> list:
        """Collected (term, tf, dl) rows of ONE doc for one query — the
        distributed half of :meth:`explain`: a bucket-pruned,
        group-filtered postings scan feeding a single-group kernel that
        checks candidate membership (same ``_candidates_spec`` dispatch
        every count/matches kernel runs — one group's pruned postings,
        1/num_groups of a query's kernel work).  Empty when the doc does
        not match the query."""
        fetch_terms = _fetch_terms(spec)
        kernel = _make_explain_kernel(spec, idf, avgdl, doc_id, self.turn_bits)
        post = self.postings_df(fetch_terms).filter(F.col("group") == group)
        return post.groupBy("group").applyInPandas(
            kernel, schema=EXPLAIN_KERNEL_SCHEMA
        ).collect()

    def explain(
        self,
        query_text: str,
        conv_id: str,
        turn_idx: int,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Per-term score breakdown of ONE document for one query — the
        Elasticsearch ``_explain`` analog (an extension; the reference
        exposes no scoring introspection).  One row per query term with
        tf > 0 in the doc, term-ascending::

            (term, df, idf, weight, tf, dl, partial, contribution)

        ``contribution = (idf · weight) · partial`` uses the exact float
        sequence of the scoring kernels, so the contributions sum
        (lexicographic term order) to the doc's :meth:`topk` score
        bit-for-bit (pinned by tests).  Empty when the doc is not in the
        query's match set (conjunctive missing a term, phrase absent,
        NOT excluded, tombstoned, below ``min_match``) — the ES
        ``matched: false`` case.

        Cost: one convs lookup + one bucket-pruned, group-filtered
        postings scan — the membership check runs the tested
        ``_candidates_spec`` dispatch over ONE group's pruned postings,
        so the kernel work is 1/num_groups of a full query's."""
        if spec is None:
            spec = self._parse(query_text, mode, analyzed, min_match)
        empty = self.spark.createDataFrame([], EXPLAIN_SCHEMA)
        if spec is None:
            return empty
        coords = self._doc_coords(conv_id, turn_idx)
        if coords is None:
            return empty
        group, doc_id = coords
        tomb = self._resolve_tomb(tombstones)
        if tomb is not None and not tomb.keep_mask(
            np.asarray([doc_id], dtype=np.int64), self.turn_bits
        )[0]:
            return empty
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        rows = self._explain_rows(spec, idf, self.avgdl, group, doc_id)
        return _assemble_explain(
            self.spark, rows, self.idf_map(spec.score_terms),
            self.df_map(spec.score_terms), spec, self.avgdl,
        )


def _score_spec(
    spec: QuerySpec,
    idf: dict[str, float],
    plists: dict,
    avgdl: float,
    k: int,
    with_ties: bool,
    tomb: "Tombstones | None" = None,
    turn_bits: int = TURN_BITS,
    allow: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
):
    """Score ONE parsed query against a group's posting lists →
    (docs, scores) arrays.  Shared by the single-query and batch
    kernels so both paths run the identical tested dispatch.
    Doclens come inline from the posting blocks (format v5).
    ``tomb`` removes deleted docs from the candidate set BEFORE the
    top-k cut (scores keep the as-built global stats until compaction).
    ``allow`` (sorted unique doc ids) keeps ONLY those docs — the
    kernel half of scoped search; like tombstones it restricts the
    candidate set, never the scoring stats (filter-context semantics).
    ``after`` = (cursor_score, cursor_doc_id): emit the group's top-k
    AFTER the cursor (search_after deep pagination — see
    :func:`_topk_after`)."""
    score_lists = {t: p for t, p in plists.items() if t in idf}
    if (spec.mode == "disjunctive" and spec.min_match == 1
            and tomb is None and allow is None and after is None):
        # unrestricted disjunction: vectorized block-max pruning
        # (kernels.blockmax_topk), lossless — blockmax == exact pinned
        # by tests — while each list's block bounds were built from the
        # idf it is scored with.  A batch shares lists built from the
        # unscaled idf, so a boosted query there scores every candidate.
        if all(p.idf == idf[t] for t, p in score_lists.items()):
            return blockmax_topk(score_lists, idf, avgdl, k, with_ties=with_ties)
        return exact_topk(score_lists, idf, avgdl, k, with_ties=with_ties)
    # every other shape materializes its candidate set, so exclusion
    # happens before the top-k cut
    cand = _candidates_spec(spec, idf, plists, tomb, turn_bits, allow)
    if after is not None:
        return _topk_after(score_lists, idf, avgdl, k, cand, after, with_ties)
    return exact_topk(
        score_lists, idf, avgdl, k, candidates=cand, with_ties=with_ties
    )


def _candidates_spec(
    spec: QuerySpec,
    idf: dict[str, float],
    plists: dict,
    tomb: "Tombstones | None" = None,
    turn_bits: int = TURN_BITS,
    allow: np.ndarray | None = None,
) -> np.ndarray:
    """The matching-doc set of one group for one query (sorted unique
    doc ids) — what top-k ranks and totalResults counts.  Shared by the
    count and matches kernels so both size the identical set."""
    score_lists = {t: p for t, p in plists.items() if t in idf}
    if spec.mode == "disjunctive":
        if spec.min_match > 1:
            cand = msm_candidates(score_lists, spec.min_match)
        else:
            arrs = [p.doc_ids for p in score_lists.values()]
            if not arrs:
                return np.empty(0, dtype=np.int64)
            cand = np.unique(np.concatenate(arrs))
    elif spec.mode == "conjunctive":
        need = {t: plists[t] for t in spec.score_terms if t in plists}
        if len(need) < len(spec.score_terms):
            return np.empty(0, dtype=np.int64)
        cand = conjunctive_candidates(need)
    elif spec.mode == "phrase":
        cand = _phrase_cand(spec, plists)
    elif spec.mode == "near":
        cand = near_candidates(spec.score_terms, plists, spec.slop)
    elif spec.mode == "bool":
        cand = bool_candidates(plists, spec.bool_clauses)
    else:
        la = phrase_candidates(spec.phrase_a or [], plists)
        rb = phrase_candidates(spec.phrase_b or [], plists)
        if spec.bool_op == "AND":
            cand = np.intersect1d(la, rb, assume_unique=True)
        elif spec.bool_op == "OR":
            cand = np.union1d(la, rb)
        else:
            cand = np.setdiff1d(la, rb, assume_unique=True)
    if allow is not None:
        cand = np.intersect1d(cand, allow, assume_unique=True)
    if tomb is not None:
        cand = tomb.mask(cand, turn_bits)
    return cand


def _count_spec(
    spec: QuerySpec,
    idf: dict[str, float],
    plists: dict,
    tomb: "Tombstones | None" = None,
    turn_bits: int = TURN_BITS,
    allow: np.ndarray | None = None,
) -> int:
    """Matching-doc count for one group — the candidate set top-k draws
    from (totalResults analog); groups hold disjoint docs, so counts sum."""
    return int(
        _candidates_spec(spec, idf, plists, tomb, turn_bits, allow).size
    )


def _make_count_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    exclude=None,
    turn_bits: int = TURN_BITS,
):
    def count(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"n": pd.array([0], dtype="int64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        tomb = _per_seg(exclude, post_pdf)
        return pd.DataFrame(
            {"n": pd.array(
                [_count_spec(spec, idf, plists, tomb, turn_bits, allow)],
                dtype="int64",
            )}
        )

    return count


MATCHES_SCHEMA = "doc_id long"


def _make_matches_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    exclude=None,
    turn_bits: int = TURN_BITS,
):
    """Kernel EMITTING the matching doc ids of each group (the set
    :func:`_count_spec` sizes) — the distributed input to faceting and
    metadata joins.  Output is O(matches), which is the inherent size
    of any facet computation."""

    def emit(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"doc_id": pd.array([], dtype="int64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        tomb = _per_seg(exclude, post_pdf)
        cand = _candidates_spec(spec, idf, plists, tomb, turn_bits, allow)
        return pd.DataFrame({"doc_id": cand})

    return emit


EXPLAIN_KERNEL_SCHEMA = "term string, tf long, dl long"
EXPLAIN_SCHEMA = (
    "term string, df long, idf double, weight double, tf long, dl long, "
    "partial double, contribution double"
)


def _make_explain_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    target_doc: int,
    turn_bits: int = TURN_BITS,
):
    """Kernel emitting (term, tf, dl) of ONE target doc — the
    distributed half of ``explain``.  Candidate membership runs the
    same ``_candidates_spec`` dispatch as the count/matches kernels
    with the allow set pinned to the target doc, so match semantics
    (conjunctive all-terms, phrase positions, boolean set ops,
    min_match) are exactly the query path's; per-term tf/dl come from
    :meth:`TermPostings.lookup`, which decodes only the blocks
    containing the doc."""

    def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "term": pd.Series([], dtype=object),
                "tf": pd.Series([], dtype="int64"),
                "dl": pd.Series([], dtype="int64"),
            }
        )
        if len(post_pdf) == 0:
            return empty
        plists = _build_plists(post_pdf, idf, avgdl)
        doc = np.asarray([target_doc], dtype=np.int64)
        cand = _candidates_spec(spec, idf, plists, None, turn_bits, allow=doc)
        if cand.size == 0:
            return empty
        rows = []
        for t in sorted(plists):
            if t not in idf:
                continue  # predicate-only terms (NOT's right phrase) never score
            tf, dl, ok = plists[t].lookup(doc)
            if ok[0] and tf[0] > 0:
                rows.append((t, int(tf[0]), int(dl[0])))
        if not rows:
            return empty
        return pd.DataFrame(rows, columns=["term", "tf", "dl"])

    return kernel


def _assemble_explain(
    spark: SparkSession,
    rows: list,
    raw_idf: dict[str, float],
    df_map: dict[str, int],
    spec: QuerySpec,
    avgdl: float,
) -> DataFrame:
    """(term, tf, dl) kernel rows + driver-held stats → the explain
    DataFrame.  ``partial`` recomputes through the kernels' own
    ``_partial`` (same numpy float sequence), so
    ``(idf·weight)·partial`` is bit-identical to the scoring kernels'
    per-term contribution."""
    from .kernels import _partial

    w = spec.weights or {}
    out = []
    for r in sorted(rows, key=lambda r: r["term"]):
        t = r["term"]
        partial = float(
            _partial(
                np.asarray([r["tf"]], dtype=np.int64),
                np.asarray([float(r["dl"])], dtype=np.float64),
                avgdl,
            )[0]
        )
        wt = float(w.get(t, 1.0))
        out.append(
            (
                t,
                int(df_map.get(t, 0)),
                float(raw_idf[t]),
                wt,
                int(r["tf"]),
                int(r["dl"]),
                partial,
                (raw_idf[t] * wt) * partial,
            )
        )
    return spark.createDataFrame(out, EXPLAIN_SCHEMA)


def _scored_candidates(
    spec: QuerySpec,
    idf: dict[str, float],
    plists: dict,
    avgdl: float,
    tomb: "Tombstones | None",
    turn_bits: int,
    allow: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """EVERY matching doc of one group with its exact BM25 score, in
    (score desc, doc asc) order — no top-k cut, no block pruning.  Every
    candidate contains ≥1 scoring term, so scores are strictly positive
    and the exact kernel's zero-score drop never fires."""
    cand = _candidates_spec(spec, idf, plists, tomb, turn_bits, allow)
    score_lists = {t: p for t, p in plists.items() if t in idf}
    return exact_topk(score_lists, idf, avgdl, int(cand.size), candidates=cand)


def _make_scored_matches_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    exclude=None,
    turn_bits: int = TURN_BITS,
):
    """Kernel emitting EVERY matching doc WITH its exact BM25 score —
    the exhaustive-scoring input to rescoring operators whose final
    order is NOT monotone in the BM25 score (recency decay: a fresher
    low-BM25 doc can outrank a stale high-BM25 one, so a top-N overfetch
    would be lossy).  Same candidate set as :func:`_make_matches_kernel`;
    cost is one full decode+score of the query terms' postings — the
    same O(postings) class as :func:`_make_count_kernel`."""

    def emit(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                 "score": pd.array([], dtype="float64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        docs, scores = _scored_candidates(
            spec, idf, plists, avgdl, _per_seg(exclude, post_pdf), turn_bits, allow
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    return emit


def _build_plists(post_pdf: pd.DataFrame, idf: dict[str, float], avgdl: float) -> dict:
    plists: dict[str, TermPostings] = {}
    for term, tdf in post_pdf.groupby("term", sort=True):
        plists[str(term)] = TermPostings(str(term), tdf, idf.get(str(term), 0.0), avgdl)
    return plists


def _allow_arr(allow_pdf: pd.DataFrame) -> np.ndarray:
    """Cogrouped allow side → sorted unique doc-id array.  An EMPTY
    frame means no doc of this group passes the scope predicate — the
    kernels must distinguish it from ``None`` (no scope at all)."""
    if len(allow_pdf) == 0:
        return np.empty(0, dtype=np.int64)
    return np.unique(allow_pdf["doc_id"].to_numpy(dtype=np.int64))


def _make_group_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    with_ties: bool = False,
    exclude=None,
    turn_bits: int = TURN_BITS,
    after=None,
):
    """Per-group top-k kernel ``fn(post_pdf, allow)`` for one parsed
    query.  ``allow`` is the scope predicate's doc ids of the group
    (None without a scope), delivered by the reader's cogroup, never a
    driver collect.  ``after`` is the resolved search_after cursor
    ((score, doc_id), or a per-segment dict under MultiIndex)."""

    def score(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                 "score": pd.array([], dtype="float64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        docs, scores = _score_spec(
            spec, idf, plists, avgdl, k, with_ties,
            tomb=_per_seg(exclude, post_pdf), turn_bits=turn_bits,
            allow=allow, after=_per_seg(after, post_pdf),
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    return score


BATCH_RESULT_SCHEMA = "query_id int, doc_id long, score double"


def _make_batch_kernel(
    specs: list[QuerySpec],
    idfs: list[dict[str, float]],
    merged_idf: dict[str, float],
    avgdl: float,
    ks: list[int],
    with_ties: bool = False,
    exclude=None,
    turn_bits: int = TURN_BITS,
):
    """One grouped kernel scoring EVERY query of a batch against the
    group's postings: term posting lists are decoded once per group and
    shared across queries (idf is a corpus property, identical for any
    query naming the term), so N queries cost one postings scan + one
    decode instead of N jobs.  A scope's ``allow`` set applies to every
    query of the batch."""

    def score(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.array([], dtype="int32"),
                "doc_id": pd.array([], dtype="int64"),
                "score": pd.array([], dtype="float64"),
            }
        )
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return empty
        plists = _build_plists(post_pdf, merged_idf, avgdl)
        tomb = _per_seg(exclude, post_pdf)
        frames = []
        for qid, (spec, idf, k) in enumerate(zip(specs, idfs, ks)):
            docs, scores = _score_spec(
                spec, idf, plists, avgdl, k, with_ties,
                tomb=tomb, turn_bits=turn_bits, allow=allow,
            )
            if docs.size:
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(docs.size, qid, dtype="int32"),
                            "doc_id": docs,
                            "score": scores,
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    return score
