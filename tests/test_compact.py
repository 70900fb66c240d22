"""Blob-level segment compaction (extend.compact_segments).

Invariants: compact(segments) answers every query identically to a
from-scratch build of the union, never touches raw text, and always
restores doc-id order isomorphism (exact-cut/WAND fast path) — even
when an input segment had lost it to an interleaving extend.
"""

from __future__ import annotations

import pandas as pd
import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import REFERENCE_QUERIES, generate_transcripts
from search_engine_spark.index.build import build_index, load_meta
from search_engine_spark.index.extend import compact_segments, extend_index
from search_engine_spark.index.reader import CompressedIndex

_PROBE_QUERIES = [REFERENCE_QUERIES[i] for i in (0, 1, 2, 3, 7)] + [
    {"query_text": '"phrase alpha beta"', "mode": "phrase", "k": 10},
    {"query_text": '"alpha" AND "beta"', "mode": "boolean", "k": 10},
]


def _rows(index: CompressedIndex, q: dict) -> list[tuple]:
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
    out = str(tmp_path_factory.mktemp("cmp") / "full")
    build_index(spark, _spark_df(spark, xs_pdf), out, BuildConfig(num_groups=2))
    return CompressedIndex(spark, out)


def test_compact_three_segments(spark, xs_pdf, xs_full_index, tmp_path_factory):
    """Segments split by conv range AND by turn range (one conversation's
    turns span two segments) compact to the full-rebuild answers."""
    d = tmp_path_factory.mktemp("cmp")
    parts = [
        xs_pdf[(xs_pdf.conv_id < "conv-000012") & (xs_pdf.turn_idx < 3)],
        xs_pdf[(xs_pdf.conv_id >= "conv-000012") & (xs_pdf.turn_idx < 3)],
        xs_pdf[xs_pdf.turn_idx >= 3],
    ]
    roots = []
    for i, part in enumerate(parts):
        out = str(d / f"seg{i}")
        build_index(spark, _spark_df(spark, part), out, BuildConfig(num_groups=2))
        roots.append(out)
    compact_segments(spark, roots, str(d / "out"))
    out = CompressedIndex(spark, str(d / "out"))
    meta = load_meta(str(d / "out"))
    assert meta["docid_order_isomorphic"] is True
    assert out.tie_safe is False
    assert out.n_docs == xs_full_index.n_docs
    assert out.avgdl == xs_full_index.avgdl
    for q in _PROBE_QUERIES:
        assert _rows(out, q) == _rows(xs_full_index, q), q["query_text"]


def test_compact_restores_isomorphism(spark, xs_pdf, xs_full_index, tmp_path_factory):
    """An interleaving extend loses doc-id order isomorphism; compacting
    that single segment re-ranks globally and restores it (exercising
    the per-posting reorder path), answers unchanged."""
    d = tmp_path_factory.mktemp("cmp")
    conv_num = xs_pdf.conv_id.str.slice(5).astype(int)
    base = xs_pdf[conv_num % 2 == 0]
    delta = xs_pdf[conv_num % 2 == 1]
    build_index(spark, _spark_df(spark, base), f"{d}/base", BuildConfig(num_groups=2))
    extend_index(spark, f"{d}/base", _spark_df(spark, delta), f"{d}/ext")
    assert load_meta(f"{d}/ext")["docid_order_isomorphic"] is False
    compact_segments(spark, [f"{d}/ext"], f"{d}/out")
    out = CompressedIndex(spark, f"{d}/out")
    assert load_meta(f"{d}/out")["docid_order_isomorphic"] is True
    assert out.tie_safe is False
    for q in _PROBE_QUERIES:
        assert _rows(out, q) == _rows(xs_full_index, q), q["query_text"]


def test_compact_rejects_overlap(spark, xs_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("cmp")
    a = xs_pdf[xs_pdf.conv_id < "conv-000010"]
    b = xs_pdf[xs_pdf.conv_id < "conv-000005"]  # overlaps a
    build_index(spark, _spark_df(spark, a), f"{d}/a", BuildConfig(num_groups=2))
    build_index(spark, _spark_df(spark, b), f"{d}/b", BuildConfig(num_groups=2))
    with pytest.raises(ValueError, match="overlap"):
        compact_segments(spark, [f"{d}/a", f"{d}/b"], f"{d}/out")


def test_compact_rejects_mixed_groups(spark, xs_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("cmp")
    a = xs_pdf[xs_pdf.conv_id < "conv-000010"]
    b = xs_pdf[xs_pdf.conv_id >= "conv-000010"]
    build_index(spark, _spark_df(spark, a), f"{d}/a", BuildConfig(num_groups=2))
    build_index(spark, _spark_df(spark, b), f"{d}/b", BuildConfig(num_groups=4))
    with pytest.raises(ValueError, match="num_groups"):
        compact_segments(spark, [f"{d}/a", f"{d}/b"], f"{d}/out")
