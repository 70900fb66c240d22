"""Multi-block posting lists: block_size ≪ df forces every posting list
through block splitting (position-stream byte slicing, per-block WAND
bounds, block-ordered merge) — rank identity must survive."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import REFERENCE_QUERIES
from search_engine_spark.index.build import build_index
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.oracle import oracle_topk


@pytest.fixture(scope="module")
def small_block_index(spark, sm_parquet, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mbidx") / "sm64")
    transcripts = spark.read.parquet(sm_parquet)
    build_index(spark, transcripts, out, BuildConfig(num_groups=2, block_size=64))
    return CompressedIndex(spark, out)


def test_blocks_actually_split(small_block_index):
    idx = small_block_index
    pdf = idx.postings_df(["term0000"]).toPandas()
    assert pdf["block_id"].max() >= 2, "head term must span multiple blocks"
    assert (pdf["n"] <= 64).all()


@pytest.mark.parametrize(
    "qid", [0, 1, 2, 5, 7, 13, 15, 17, 20, 27, 28, 29], ids=lambda i: f"q{i}"
)
def test_rank_identity_with_small_blocks(small_block_index, sm_oracle, qid):
    q = REFERENCE_QUERIES[qid]
    golden = oracle_topk(sm_oracle, q["query_text"], q["mode"], q["k"])
    got = small_block_index.topk(q["query_text"], q["mode"], q["k"]).collect()
    assert len(got) == len(golden)
    for row, (key, score) in zip(got, golden):
        assert (row["conv_id"], row["turn_idx"]) == key
        assert row["score"] == pytest.approx(score, abs=1e-9)


def test_positions_decode_across_blocks(small_block_index, sm_oracle):
    """Phrase positions must decode correctly when the position stream was
    byte-sliced at block boundaries."""
    from search_engine_spark.index.kernels import TermPostings

    term = "term0000"
    pdf = small_block_index.postings_df([term]).toPandas()
    for _g, gdf in pdf.groupby("group"):
        tp = TermPostings(term, gdf, 1.0, small_block_index.avgdl)
        pos = tp.positions()
        assert len(pos) == tp.doc_ids.size
        for tf, p in zip(tp.tfs, pos):
            assert len(p) == tf
            assert np.all(p[1:] > p[:-1]) if len(p) > 1 else True
