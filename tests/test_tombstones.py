"""LSM deletions: query-time tombstone exclusion + physical removal at
compaction.

Semantics under test (documented in reader.Tombstones): the readers'
``tombstones=`` parameter excludes deleted docs from the candidate set
while keeping as-built global stats (so expected = deep top-k of the
intact index, minus deleted, cut at k); ``compact_segments(tombstones=)``
removes the postings physically, after which the index equals a fresh
build over the corpus-minus-deleted — including N/avgdl/idf.
"""

from __future__ import annotations

import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import generate_transcripts
from search_engine_spark.index.build import build_index
from search_engine_spark.index.extend import compact_segments
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex

DELETED = ["conv-000003", ("conv-000007", 1), ("conv-000012", 4)]
_MODES = [
    ("term0001 term0002", "disjunctive"),
    ("term0001 term0002", "conjunctive"),
    ('"phrase alpha beta"', "phrase"),
    ('"alpha" AND "beta"', "boolean"),
]


def _gone(conv: str, turn: int) -> bool:
    for item in DELETED:
        if isinstance(item, str):
            if conv == item:
                return True
        elif (conv, turn) == item:
            return True
    return False


@pytest.fixture(scope="module")
def xs_pdf():
    return generate_transcripts("xs")


@pytest.fixture(scope="module")
def full_index(spark, xs_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tomb") / "full")
    build_index(
        spark,
        spark.createDataFrame(xs_pdf[["conv_id", "turn_idx", "text"]]),
        out,
        BuildConfig(num_groups=2),
    )
    return CompressedIndex(spark, out)


def _expected(index, qt: str, mode: str, k: int) -> list[tuple]:
    deep = index.topk(qt, mode, index.n_docs).collect()
    kept = [
        (r.conv_id, r.turn_idx, round(r.score, 9))
        for r in deep
        if not _gone(r.conv_id, r.turn_idx)
    ]
    return kept[:k]


def test_query_time_exclusion_all_modes(spark, full_index):
    for qt, mode in _MODES:
        got = [
            (r.conv_id, r.turn_idx, round(r.score, 9))
            for r in full_index.topk(qt, mode, 10, tombstones=DELETED).collect()
        ]
        assert got == _expected(full_index, qt, mode, 10), (qt, mode)
        assert not any(_gone(c, t) for c, t, _ in got)


def test_match_count_excludes_tombstones(spark, full_index):
    for qt, mode in _MODES:
        base = full_index.match_count(qt, mode)
        excl = full_index.match_count(qt, mode, tombstones=DELETED)
        deep = full_index.topk(qt, mode, full_index.n_docs).collect()
        removed = sum(1 for r in deep if _gone(r.conv_id, r.turn_idx))
        assert excl == base - removed, (qt, mode)


def test_batch_exclusion_matches_per_query(spark, full_index):
    got = full_index.topk_batch(
        [(qt, mode, 10) for qt, mode in _MODES], tombstones=DELETED
    ).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(
            (r.conv_id, r.turn_idx, round(r.score, 9))
        )
    for res in by_q.values():
        res.sort(key=lambda x: (-x[2], x[0], x[1]))
    for i, (qt, mode) in enumerate(_MODES):
        assert by_q.get(i, []) == _expected(full_index, qt, mode, 10), (qt, mode)


def test_multi_index_exclusion(spark, xs_pdf, full_index, tmp_path_factory):
    d = tmp_path_factory.mktemp("tomb")
    a = xs_pdf[xs_pdf.conv_id < "conv-000010"]
    b = xs_pdf[xs_pdf.conv_id >= "conv-000010"]
    roots = []
    for name, part in (("a", a), ("b", b)):
        out = str(d / name)
        build_index(
            spark,
            spark.createDataFrame(part[["conv_id", "turn_idx", "text"]]),
            out,
            BuildConfig(num_groups=2),
        )
        roots.append(out)
    multi = MultiIndex(spark, roots)
    for qt, mode in _MODES:
        got = [
            (r.conv_id, r.turn_idx, round(r.score, 9))
            for r in multi.topk(qt, mode, 10, tombstones=DELETED).collect()
        ]
        assert got == _expected(full_index, qt, mode, 10), (qt, mode)
    assert multi.match_count(
        "term0001 term0002", tombstones=DELETED
    ) == full_index.match_count("term0001 term0002", tombstones=DELETED)


def test_compaction_deletes_physically(spark, xs_pdf, full_index, tmp_path_factory):
    """After compact(tombstones), the index equals a fresh build over the
    corpus minus the deleted docs — stats refreshed, scores identical."""
    d = tmp_path_factory.mktemp("tomb")
    compact_segments(
        spark, [full_index.paths.root], str(d / "cmp"), tombstones=DELETED
    )
    cmp_idx = CompressedIndex(spark, str(d / "cmp"))
    kept = xs_pdf[
        ~xs_pdf.apply(lambda r: _gone(r.conv_id, r.turn_idx), axis=1)
    ]
    build_index(
        spark,
        spark.createDataFrame(kept[["conv_id", "turn_idx", "text"]]),
        str(d / "fresh"),
        BuildConfig(num_groups=2),
    )
    fresh = CompressedIndex(spark, str(d / "fresh"))
    assert cmp_idx.n_docs == fresh.n_docs == len(kept)
    assert cmp_idx.avgdl == fresh.avgdl
    for qt, mode in _MODES:
        got = [
            (r.conv_id, r.turn_idx, round(r.score, 9))
            for r in cmp_idx.topk(qt, mode, 10).collect()
        ]
        want = [
            (r.conv_id, r.turn_idx, round(r.score, 9))
            for r in fresh.topk(qt, mode, 10).collect()
        ]
        assert got == want, (qt, mode)


def test_unknown_conversation_is_noop(spark, full_index):
    got = full_index.topk(
        "term0001 term0002", "disjunctive", 10, tombstones=["conv-zzz-missing"]
    ).collect()
    want = full_index.topk("term0001 term0002", "disjunctive", 10).collect()
    assert got == want


def test_tombstone_resolution_memoized(full_index):
    """The same deletion list (any item order) resolves with ONE collect
    job per reader instance — service.search calls topk + match_count
    with the identical list (round-4 ADVICE, multi.py)."""
    a = full_index._resolve_tomb(DELETED)
    b = full_index._resolve_tomb(list(reversed(DELETED)))
    assert a is b
