"""Engine-wide constants and tunables.

BM25 constants and formulas follow the reference's precomputed-metrics path
(SURVEY.md §4.3): k1/b from ``IndexerService.java:1029-1030``, idf from
``IndexerService.java:966``, tf from ``IndexerService.java:1069-1070``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# --- BM25 contract (IndexerService.java:1029-1030, 966, 1069-1070) ---
BM25_K1 = 1.2
BM25_B = 0.75

# --- physical layout tunables (scale knobs, not semantics) ---
# Max postings per index block; bounds row size + drives block-max pruning
# granularity.  At 10^12 turns a head term still yields bounded rows.
BLOCK_SIZE = 4096

# Number of doc-range shards ("groups") an index build is split into.  Each
# group is built + committed independently → checkpoint/resume unit, and the
# query-time parallelism unit (document-sharded index).
DEFAULT_NUM_GROUPS = 8

# Salt modulus for the repartition-by-term merge: fragments are shuffled on
# (term, group) so one skewed head term spreads over all groups instead of
# one reducer (SURVEY.md §4.1 "skew handling").
SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


@dataclass(frozen=True)
class BuildConfig:
    num_groups: int = DEFAULT_NUM_GROUPS
    block_size: int = BLOCK_SIZE
    shuffle_partitions: int = SHUFFLE_PARTITIONS
    # True → tokenize one group per job (checkpoint/resume unit, amortizes
    # on huge corpora); False → single-job tokenize (fast path, identical
    # on-disk layout).  build(resume=True) always uses the group loop.
    checkpoint: bool = False
    # True → run the reference's cleanHTML char filter
    # (PreIndexer.java:48-75; textproc/htmlclean.py) over ``text`` before
    # tokenization — for HTML-bearing corpora.  Transcripts are plain
    # text, so the default is the documented identity mapping (P1).
    html_clean: bool = False
