"""LSM read path (index/multi.py): MultiIndex over disjoint segments
must answer every query identically to one index built over the union.

Segments are plain ``build_index`` outputs over delta slices — the
O(delta) ingest unit; ``extend_index`` is the compaction that folds them
back into one root (tested in test_incremental.py).
"""

from __future__ import annotations

import re

import pandas as pd
import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import REFERENCE_QUERIES, generate_transcripts
from search_engine_spark.index.build import build_index
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex

_PROBE_QUERIES = [REFERENCE_QUERIES[i] for i in (0, 1, 2, 3, 7)] + [
    {"query_text": '"phrase alpha beta"', "mode": "phrase", "k": 10},
    {"query_text": '"term0001 term0002"~2', "mode": "phrase", "k": 10},
    {"query_text": '"alpha" AND "beta"', "mode": "boolean", "k": 10},
    {"query_text": '"alpha" NOT "beta"', "mode": "boolean", "k": 10},
]


def _rows(index, q: dict) -> list[tuple]:
    return [
        (r.conv_id, r.turn_idx, round(r.score, 9))
        for r in index.topk(q["query_text"], q["mode"], q.get("k", 10)).collect()
    ]


def _spark_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf[["conv_id", "turn_idx", "text"]])


@pytest.fixture(scope="module")
def xs_pdf():
    return generate_transcripts("xs")


@pytest.fixture(scope="module")
def xs_full_index(spark, xs_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("multi") / "full")
    build_index(spark, _spark_df(spark, xs_pdf), out, BuildConfig(num_groups=2))
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def three_segments(spark, xs_pdf, tmp_path_factory):
    """Base + two delta segments: a later conv range, then new TURNS of
    already-segmented conversations (one conversation spans segments)."""
    d = tmp_path_factory.mktemp("multi")
    a = xs_pdf[(xs_pdf.conv_id < "conv-000012") & (xs_pdf.turn_idx < 3)]
    b = xs_pdf[(xs_pdf.conv_id >= "conv-000012") & (xs_pdf.turn_idx < 3)]
    c = xs_pdf[xs_pdf.turn_idx >= 3]
    roots = []
    for name, part in (("a", a), ("b", b), ("c", c)):
        out = str(d / name)
        build_index(spark, _spark_df(spark, part), out, BuildConfig(num_groups=2))
        roots.append(out)
    return roots


def _collected(rows, ordered: bool = False) -> list[tuple]:
    """Rounded row tuples of a DataFrame or an already-collected list."""
    rows = [
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in (rows if isinstance(rows, list) else rows.collect())
    ]
    return rows if ordered else sorted(rows)


def _answers(ix, q: str, mode: str, scope) -> tuple:
    return (
        _collected(ix.topk(q, mode, 10, scope=scope), ordered=True),
        ix.match_count(q, mode, scope=scope),
        _collected(ix.matches(q, mode, scope=scope)),
        _collected(ix.matches_scored(q, mode, scope=scope)),
    )


def test_single_segment_matches_compressed_index(spark, xs_pdf, xs_full_index):
    """A one-segment MultiIndex answers every shared query plan exactly
    like the CompressedIndex it wraps — unscoped and scoped — and its
    vocabulary expansions honor the same limits, 0 included."""
    from search_engine_spark.oracle import (
        FUZZY_CAP,
        PREFIX_CAP,
        build_oracle_index,
        oracle_expand_query,
    )

    single = xs_full_index
    multi = MultiIndex(spark, [single.paths.root])
    assert multi.n_docs == single.n_docs
    assert multi.avgdl == pytest.approx(single.avgdl, rel=0, abs=0)
    for q in _PROBE_QUERIES:
        assert _rows(multi, q) == _rows(single, q), q["query_text"]

    meta = spark.createDataFrame(xs_pdf[["conv_id", "turn_idx", "role"]])
    queries = [
        ("term0001^3 term0002", "disjunctive"),
        ('"term0001 term00*"', "phrase"),  # phrase prefix: _resolve_spec
    ]
    for scope in (None, meta.filter("role = 'assistant'")):
        for q, mode in queries:
            got = _answers(multi, q, mode, scope)
            assert got == _answers(single, q, mode, scope), (q, mode, scope)
            assert got[1] > 0, (q, mode)
        batch = [(q, mode, 5) for q, mode in queries]
        assert _collected(multi.topk_batch(batch, scope=scope)) == _collected(
            single.topk_batch(batch, scope=scope)
        )
        assert _collected(
            multi.facet_counts("term0001 term0002", meta, "role", scope=scope)
        ) == _collected(
            single.facet_counts("term0001 term0002", meta, "role", scope=scope)
        )
    assert _collected(multi.topk_cached("term0001 term0002"), ordered=True) == (
        _collected(single.topk_cached("term0001 term0002"), ordered=True)
    )

    oracle = build_oracle_index(xs_pdf)
    marked = "term000* t?rm0001 /term00(1[0-9])/ term001~ alpha"
    for limits in ((PREFIX_CAP, FUZZY_CAP), (0, FUZZY_CAP), (2, 0)):
        want = oracle_expand_query(oracle, marked, *limits)
        assert multi.expand_query(marked, *limits) == want, limits
        assert single.expand_query(marked, *limits) == want, limits
    for limit in (PREFIX_CAP, 0):
        assert multi.expand_prefixes("term000* alpha", limit) == (
            single.expand_prefixes("term000* alpha", limit)
        )
        assert multi.expand_fuzzy("term001~ alpha", limit) == (
            single.expand_fuzzy("term001~ alpha", limit)
        )


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _kernel_keys(plan: str) -> list[str]:
    """Grouping keys of every grouped pandas kernel in a physical plan."""
    return [
        re.sub(r"#\d+", "", k)
        for k in re.findall(r"FlatMap(?:Co)?GroupsInPandas \[([^\]]*)\]", plan)
    ]


def test_query_plan_shapes(spark, xs_pdf, xs_full_index):
    """Pins the physical plans of the shared query path: a bucket-pruned
    postings scan, exactly ONE grouped pandas kernel keyed on the doc
    group alone — (seg, group) on a MultiIndex — and the global cut
    (TakeOrderedAndProject for top-k, a per-query Window for a batch)."""
    idx = xs_full_index
    scope = spark.createDataFrame(xs_pdf[["conv_id", "turn_idx", "role"]]).filter(
        "role = 'user'"
    )
    q = "term0001 term0002"
    plans = {
        "topk": _executed_plan(idx.topk(q, "disjunctive", 10)),
        "scoped": _executed_plan(idx.topk(q, "disjunctive", 10, scope=scope)),
        "batch": _executed_plan(
            idx.topk_batch([(q, "disjunctive"), ("term0003", "conjunctive", 5)])
        ),
    }
    for name, plan in plans.items():
        assert re.search(r"PartitionFilters: \[[^\]]*bucket#\d+ IN \(", plan), name
        assert _kernel_keys(plan) == ["group"], name
    assert "FlatMapCoGroupsInPandas" in plans["scoped"]
    assert "TakeOrderedAndProject" in plans["topk"]
    assert "TakeOrderedAndProject" in plans["scoped"]
    assert "Window" in plans["batch"]
    multi = MultiIndex(spark, [idx.paths.root])
    plan = _executed_plan(multi.topk(q, "disjunctive", 10))
    assert _kernel_keys(plan) == ["seg, group"]
    assert "TakeOrderedAndProject" in plan


def test_three_segments_match_full_rebuild(spark, xs_full_index, three_segments):
    multi = MultiIndex(spark, three_segments)
    assert multi.n_docs == xs_full_index.n_docs
    # integer-sum avgdl: exact, not approximate
    assert multi.avgdl == xs_full_index.avgdl
    for q in _PROBE_QUERIES:
        assert _rows(multi, q) == _rows(xs_full_index, q), q["query_text"]


def test_global_idf_is_summed_df(spark, xs_full_index, three_segments):
    multi = MultiIndex(spark, three_segments)
    terms = ["term0001", "term0002", "nosuchterm0xyz"]
    assert multi.idf_map(terms) == xs_full_index.idf_map(terms)


def test_batch_matches_per_query(spark, three_segments):
    multi = MultiIndex(spark, three_segments)
    queries = [(q["query_text"], q["mode"], q.get("k", 10)) for q in _PROBE_QUERIES[:4]]
    got = multi.topk_batch(queries).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(
            (r.conv_id, r.turn_idx, round(r.score, 9))
        )
    for res in by_q.values():
        res.sort(key=lambda x: (-x[2], x[0], x[1]))
    for i, q in enumerate(_PROBE_QUERIES[:4]):
        assert by_q.get(i, []) == _rows(multi, q), q["query_text"]


def test_topk_cached_round_trip(spark, three_segments):
    multi = MultiIndex(spark, three_segments)
    first = multi.topk_cached("term0001 term0002", "disjunctive", 5)
    again = multi.topk_cached("term0001 term0002", "disjunctive", 5)
    assert again is first  # LRU hit, no second job
    fresh = [
        (r.conv_id, r.turn_idx, r.score)
        for r in multi.topk("term0001 term0002", "disjunctive", 5).collect()
    ]
    assert [(r.conv_id, r.turn_idx, r.score) for r in first] == fresh


def test_multi_over_extended_segment(spark, xs_pdf, xs_full_index, tmp_path_factory):
    """Composition: a segment that is itself an order-isomorphism-broken
    extend output (tie-safe reader) plus a fresh delta segment still
    answer as one index — per-segment kernels always run with_ties."""
    from search_engine_spark.index.build import load_meta
    from search_engine_spark.index.extend import extend_index

    d = tmp_path_factory.mktemp("multi")
    conv_num = xs_pdf.conv_id.str.slice(5).astype(int)
    older = xs_pdf[(conv_num % 2 == 0) & (conv_num < 14)]
    interleave = xs_pdf[(conv_num % 2 == 1) & (conv_num < 14)]
    fresh = xs_pdf[conv_num >= 14]
    build_index(spark, _spark_df(spark, older), f"{d}/base", BuildConfig(num_groups=2))
    extend_index(spark, f"{d}/base", _spark_df(spark, interleave), f"{d}/ext")
    assert load_meta(f"{d}/ext")["docid_order_isomorphic"] is False
    build_index(spark, _spark_df(spark, fresh), f"{d}/seg", BuildConfig(num_groups=2))
    multi = MultiIndex(spark, [f"{d}/ext", f"{d}/seg"])
    assert multi.n_docs == xs_full_index.n_docs
    for q in _PROBE_QUERIES:
        assert _rows(multi, q) == _rows(xs_full_index, q), q["query_text"]


def test_rejects_mixed_layout(spark, xs_full_index, three_segments, tmp_path_factory):
    import json
    import shutil

    d = str(tmp_path_factory.mktemp("multi") / "doctored")
    shutil.copytree(three_segments[0], d)
    from search_engine_spark.index.build import IndexPaths

    meta_path = IndexPaths(d).meta
    with open(meta_path) as f:
        meta = json.load(f)
    meta["turn_bits"] = meta["turn_bits"] - 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="turn_bits"):
        MultiIndex(spark, [xs_full_index.paths.root, d])


def test_match_count_matches_oracle(spark, xs_pdf, xs_full_index, three_segments):
    from search_engine_spark.oracle import build_oracle_index, oracle_match_count

    oracle = build_oracle_index(xs_pdf)
    multi = MultiIndex(spark, three_segments)
    probes = [
        ("term0001 term0002", "disjunctive"),
        ("term0001 term0002", "conjunctive"),
        ('"phrase alpha beta"', "phrase"),
        ('"alpha" AND "beta"', "boolean"),
        ('"alpha" NOT "beta"', "boolean"),
        ("zzznotaterm", "disjunctive"),
    ]
    for qt, mode in probes:
        want = oracle_match_count(oracle, qt, mode)
        assert xs_full_index.match_count(qt, mode) == want, (qt, mode)
        assert multi.match_count(qt, mode) == want, (qt, mode)
