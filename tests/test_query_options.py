"""Query options added on top of the reference surface: per-term boosts
(``tok^2.5``), minimum_should_match, and search_after deep pagination —
all verified against the independent pure-Python oracle and across both
readers (CompressedIndex / MultiIndex).

Semantics:

* boosts — Lucene query-time boost: score = Σ (w·idf)·tf_bm25 over the
  unique query terms; several boosts landing on one index term resolve
  to the LARGEST (deterministic, order-insensitive).  Implemented by
  pre-scaling the idf map, so every kernel (including block-max bounds
  built from it) stays valid — pinned by the algo-parity test.
* minimum_should_match — disjunctive candidates must contain ≥ m
  DISTINCT query terms (ES optional-clause counting: terms absent from
  the index can never match).
* search_after — (score, conv_id, turn_idx) cursor of the previous
  page's last row; the next page is the k results strictly after it in
  (score desc, conv_id, turn_idx) order.  Offset-free: page N never
  overfetches N·k rows.
"""

from __future__ import annotations

import pandas as pd
import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import generate_transcripts
from search_engine_spark.index.build import build_index
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.oracle import (
    build_oracle_index,
    oracle_matches,
    oracle_topk,
    resolve_term_weights,
    split_weight_tokens,
)


@pytest.fixture(scope="module")
def xs_pdf():
    return generate_transcripts("xs")


@pytest.fixture(scope="module")
def xs_df(spark, xs_pdf):
    return spark.createDataFrame(xs_pdf).cache()


@pytest.fixture(scope="module")
def xs_index(spark, xs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qopts") / "idx")
    build_index(spark, xs_df, out, BuildConfig(num_groups=2))
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def xs_oracle(xs_pdf):
    return build_oracle_index(xs_pdf)


@pytest.fixture(scope="module")
def xs_multi(spark, xs_pdf, tmp_path_factory):
    """Two disjoint segments (split on conv_id) read as one MultiIndex —
    any cursor conversation is ABSENT from one of the two segments, so
    the per-segment boundary-rank resolution is always exercised."""
    d = tmp_path_factory.mktemp("qopts_multi")
    roots = []
    for name, part in (
        ("a", xs_pdf[xs_pdf.conv_id < "conv-000012"]),
        ("b", xs_pdf[xs_pdf.conv_id >= "conv-000012"]),
    ):
        out = str(d / name)
        build_index(
            spark,
            spark.createDataFrame(part[["conv_id", "turn_idx", "text"]]),
            out,
            BuildConfig(num_groups=2),
        )
        roots.append(out)
    return MultiIndex(spark, roots)


def _rows(df) -> list[tuple]:
    return [(r.conv_id, r.turn_idx, round(r.score, 9)) for r in df.collect()]


def _rows_exact(df) -> list[tuple]:
    """UNROUNDED rows — cursors must carry the exact float score the
    engine returned (the ES search_after contract: exact sort values);
    a display-rounded score can sit on the wrong side of the strict
    (score, key) comparison and duplicate or drop a boundary row."""
    return [(r.conv_id, r.turn_idx, r.score) for r in df.collect()]


def _want(rows) -> list[tuple]:
    return [(c, t, round(s, 9)) for (c, t), s in rows]


# ------------------------------------------------------------- boosts


_WEIGHTED = [
    ("term0001^3 term0002", "disjunctive"),
    ("term0001^0.25 term0002 term0003^2", "disjunctive"),
    ("term0003^2.5 term0004", "conjunctive"),
]


def test_weighted_vs_oracle(xs_index, xs_oracle):
    for q, mode in _WEIGHTED:
        got = _rows(xs_index.topk(q, mode, 10))
        assert got == _want(oracle_topk(xs_oracle, q, mode, 10)), (q, mode)


def test_weight_one_is_identity(xs_index):
    assert _rows(xs_index.topk("term0001^1 term0002", "disjunctive", 10)) == _rows(
        xs_index.topk("term0001 term0002", "disjunctive", 10)
    )


def test_weighted_analyzed_mode(xs_index, xs_oracle):
    """Post-analysis terms carry boosts too (expansion composition)."""
    q = "term0001^2 term0002"
    got = _rows(xs_index.topk(q, "disjunctive", 10, analyzed=True))
    assert got == _want(oracle_topk(xs_oracle, q, "disjunctive", 10, analyzed=True))


def test_weight_collision_takes_max(xs_index):
    got = _rows(xs_index.topk("term0001^2 term0001^5", "disjunctive", 10))
    assert got == _rows(xs_index.topk("term0001^5", "disjunctive", 10))


def test_weight_resolution_rules():
    clean, pairs = split_weight_tokens("alpha^2 beta gamma^0.5")
    assert clean == "alpha beta gamma"
    assert pairs == [("alpha", 2.0), ("gamma", 0.5)]
    w = resolve_term_weights([("running", 3.0)])  # Porter: running → run
    assert w == {"run": 3.0}


def test_nonpositive_weight_raises(xs_index):
    with pytest.raises(ValueError, match="non-positive boost"):
        xs_index.topk("term0001^0 term0002", "disjunctive", 10).collect()


def test_weighted_batch_matches_per_query(xs_index):
    """The batch kernel shares unscaled block bounds across queries, so
    weighted specs must fall back to exact scoring — row-identical to
    the per-query path either way."""
    queries = [
        ("term0001^3 term0002", "disjunctive"),
        ("term0001 term0002", "disjunctive"),
        ("term0003^2.5 term0004", "conjunctive"),
    ]
    batch = xs_index.topk_batch(queries, k=10).collect()
    by_q: dict[int, list] = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append(
            (r.conv_id, r.turn_idx, round(r.score, 9))
        )
    for i, (q, mode) in enumerate(queries):
        assert by_q.get(i, []) == _rows(xs_index.topk(q, mode, 10)), q


# -------------------------------------------------- minimum_should_match


_MSM_QUERY = "term0001 term0002 term0003"


def test_msm_vs_oracle(xs_index, xs_oracle):
    for m in (2, 3):
        got = _rows(xs_index.topk(_MSM_QUERY, "disjunctive", 10, min_match=m))
        assert got == _want(
            oracle_topk(xs_oracle, _MSM_QUERY, "disjunctive", 10, min_match=m)
        ), m


def test_msm_one_is_plain_disjunctive(xs_index):
    assert _rows(
        xs_index.topk(_MSM_QUERY, "disjunctive", 10, min_match=1)
    ) == _rows(xs_index.topk(_MSM_QUERY, "disjunctive", 10))


def test_msm_all_equals_conjunctive(xs_index):
    """m = n-terms degenerates to the conjunctive candidate set — same
    rows, same scores."""
    got = _rows(xs_index.topk(_MSM_QUERY, "disjunctive", 10, min_match=3))
    assert got == _rows(xs_index.topk(_MSM_QUERY, "conjunctive", 10))


def test_msm_above_present_terms_is_empty(xs_index):
    assert xs_index.topk(_MSM_QUERY, "disjunctive", 10, min_match=4).collect() == []
    assert xs_index.match_count(_MSM_QUERY, "disjunctive", min_match=4) == 0


def test_msm_match_count_parity(xs_index, xs_oracle):
    for m in (1, 2, 3):
        got = xs_index.match_count(_MSM_QUERY, "disjunctive", min_match=m)
        assert got == len(
            oracle_matches(xs_oracle, _MSM_QUERY, "disjunctive", min_match=m)
        ), m


def test_msm_with_scope(xs_index, xs_df, xs_pdf, xs_oracle):
    scope_df = xs_df.filter("role = 'assistant'")
    scope = set(
        zip(xs_pdf[xs_pdf.role == "assistant"].conv_id,
            xs_pdf[xs_pdf.role == "assistant"].turn_idx)
    )
    got = _rows(
        xs_index.topk(_MSM_QUERY, "disjunctive", 10, min_match=2, scope=scope_df)
    )
    assert got == _want(
        oracle_topk(xs_oracle, _MSM_QUERY, "disjunctive", 10, scope=scope,
                    min_match=2)
    )


def test_msm_invalid_mode_raises(xs_index):
    with pytest.raises(ValueError, match="min_match"):
        xs_index.topk('"term0001 term0002"', "phrase", 10, min_match=2).collect()


def test_msm_weighted_composition(xs_index, xs_oracle):
    q = "term0001^3 term0002 term0003"
    got = _rows(xs_index.topk(q, "disjunctive", 10, min_match=2))
    assert got == _want(
        oracle_topk(xs_oracle, q, "disjunctive", 10, min_match=2)
    )


# -------------------------------------------------------- search_after


def _cur(row_tuple):
    c, t, s = row_tuple
    return (s, c, t)


_AFTER_MODES = [
    ("term0001 term0002 term0003", "disjunctive"),
    ("term0003 term0004", "conjunctive"),
    ('"phrase alpha beta"', "phrase"),
    ('"term0001" OR "term0002"', "boolean"),
]


def test_search_after_page_identity(xs_index):
    """Chained cursors reproduce one deep top-k exactly, page by page."""
    q, mode = _AFTER_MODES[0]
    full = _rows_exact(xs_index.topk(q, mode, 30))
    assert len(full) == 30
    pages, cursor = [], None
    for _ in range(3):
        page = _rows_exact(
            xs_index.topk(q, mode, 10, search_after=cursor)
            if cursor
            else xs_index.topk(q, mode, 10)
        )
        pages.extend(page)
        cursor = _cur(page[-1])
    assert pages == full


def test_search_after_vs_oracle_all_modes(xs_index, xs_oracle):
    for q, mode in _AFTER_MODES:
        full = oracle_topk(xs_oracle, q, mode, 1 << 30)
        if len(full) < 4:
            continue
        (cc, ct), cs = full[2]
        after = (cs, cc, ct)
        got = _rows(xs_index.topk(q, mode, 10, search_after=after))
        assert got == _want(
            oracle_topk(xs_oracle, q, mode, 10, after=after)
        ), (q, mode)


def test_search_after_past_end_is_empty(xs_index):
    q, mode = _AFTER_MODES[0]
    full = _rows_exact(xs_index.topk(q, mode, 1 << 20))
    assert xs_index.topk(q, mode, 10, search_after=_cur(full[-1])).collect() == []


def test_search_after_with_scope(xs_index, xs_df, xs_pdf, xs_oracle):
    q = "term0001 term0002"
    scope_df = xs_df.filter("role = 'user'")
    scope = set(
        zip(xs_pdf[xs_pdf.role == "user"].conv_id,
            xs_pdf[xs_pdf.role == "user"].turn_idx)
    )
    full = oracle_topk(xs_oracle, q, "disjunctive", 1 << 30, scope=scope)
    assert len(full) > 5
    (cc, ct), cs = full[4]
    after = (cs, cc, ct)
    got = _rows(
        xs_index.topk(q, "disjunctive", 10, scope=scope_df, search_after=after)
    )
    assert got == _want(
        oracle_topk(xs_oracle, q, "disjunctive", 10, scope=scope, after=after)
    )


def test_search_after_unknown_cursor_conv(xs_index, xs_oracle):
    """A cursor conversation not in the index cuts via the boundary
    rank — results equal the oracle's cut at the same (score, key)."""
    q = "term0001 term0002"
    full = oracle_topk(xs_oracle, q, "disjunctive", 1 << 30)
    (cc, ct), cs = full[1]
    # a conv id sorting just before cc (absent from the corpus)
    fake = cc[:-1] + chr(ord(cc[-1]) - 1) + "zzz"
    after = (cs, fake, 0)
    got = _rows(xs_index.topk(q, "disjunctive", 10, search_after=after))
    assert got == _want(oracle_topk(xs_oracle, q, "disjunctive", 10, after=after))


def test_search_after_collapse_page_identity(xs_index):
    """Conversation-collapsed pagination: cursor names the previous
    page's last conversation via its representative turn."""
    q = "term0001 term0002 term0003"
    full = _rows_exact(xs_index.topk_conversations(q, "disjunctive", 12))
    assert len(full) == 12
    p1 = _rows_exact(xs_index.topk_conversations(q, "disjunctive", 4))
    p2 = _rows_exact(
        xs_index.topk_conversations(q, "disjunctive", 4, search_after=_cur(p1[-1]))
    )
    p3 = _rows_exact(
        xs_index.topk_conversations(q, "disjunctive", 4, search_after=_cur(p2[-1]))
    )
    assert p1 + p2 + p3 == full


# ------------------------------------------------- MultiIndex parity


def test_multi_weighted_and_msm(xs_index, xs_multi):
    q = "term0001^3 term0002 term0003"
    assert _rows(xs_multi.topk(q, "disjunctive", 10)) == _rows(
        xs_index.topk(q, "disjunctive", 10)
    )
    assert _rows(
        xs_multi.topk(_MSM_QUERY, "disjunctive", 10, min_match=2)
    ) == _rows(xs_index.topk(_MSM_QUERY, "disjunctive", 10, min_match=2))
    assert xs_multi.match_count(
        _MSM_QUERY, "disjunctive", min_match=2
    ) == xs_index.match_count(_MSM_QUERY, "disjunctive", min_match=2)


def test_multi_search_after_page_identity(xs_index, xs_multi):
    """Segmented pagination == single-index pagination: every cursor
    conversation lives in exactly one of the two segments, so the other
    segment's boundary-rank cut is exercised on every page."""
    q = "term0001 term0002 term0003"
    full = _rows_exact(xs_index.topk(q, "disjunctive", 30))
    pages, cursor = [], None
    for _ in range(3):
        page = _rows_exact(
            xs_multi.topk(q, "disjunctive", 10, search_after=cursor)
            if cursor
            else xs_multi.topk(q, "disjunctive", 10)
        )
        pages.extend(page)
        cursor = _cur(page[-1])
    assert pages == full


def test_multi_collapse_search_after_raises(xs_multi):
    with pytest.raises(ValueError, match="compact"):
        xs_multi.topk_conversations(
            "term0001", "disjunctive", 5,
            search_after=(1.0, "conv-000001", 0),
        )
