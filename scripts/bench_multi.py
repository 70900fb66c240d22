"""LSM trade-off: segment ingest cost vs segmented-read query tax.

Three ways to absorb a delta into a live index, same (warmed) session:

  rebuild  — build_index(base ∪ delta)          O(corpus text)
  extend   — extend_index(base_idx, delta)      O(delta text + index bytes)
  segment  — build_index(delta) alone           O(delta text)   ← LSM ingest

plus the price the segment option pays at query time: MultiIndex([base,
delta]) runs every kernel with_ties=True (boundary ties emitted) and unions two
bucket-pruned scans, so per-query latency is higher than the compacted
single index until compaction (= extend) folds the segments together.
Reported: the three ingest times and the per-query latency (median over
the reference query set, via topk_batch) on both read paths.  Run:

    SPARK_GRAFT_CPUS=32 python scripts/bench_multi.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from search_engine_spark.corpus import REFERENCE_QUERIES, generate_transcripts
from search_engine_spark.index.build import build_index, load_meta
from search_engine_spark.index.extend import compact_segments, extend_index
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.session import get_spark


def _time_queries(index) -> dict:
    qs = [(q["query_text"], q["mode"], q.get("k", 10)) for q in REFERENCE_QUERIES]
    lat = []
    for q in qs:
        t0 = time.time()
        index.topk(*q).collect()
        lat.append(time.time() - t0)
    t0 = time.time()
    n_batch = index.topk_batch(qs).count()
    batch_s = time.time() - t0
    return {
        "p50_ms": round(1000 * statistics.median(lat), 1),
        "total_s": round(sum(lat), 2),
        "batch_s": round(batch_s, 2),
        "batch_rows": int(n_batch),
    }


def main() -> None:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    base_scale = os.environ.get("SPARK_GRAFT_EXTEND_BASE", "md")
    delta_scale = os.environ.get("SPARK_GRAFT_EXTEND_DELTA", "sm")
    spark = get_spark(app_name="bench_multi", cores=cores)
    d = tempfile.mkdtemp(prefix="sgs_bmulti_")
    try:
        warm = spark.createDataFrame(
            generate_transcripts("xs")[["conv_id", "turn_idx", "text"]]
        )
        build_index(spark, warm, f"{d}/warm")

        base_pdf = generate_transcripts(base_scale)[["conv_id", "turn_idx", "text"]]
        delta_pdf = generate_transcripts(delta_scale, seed=7)[
            ["conv_id", "turn_idx", "text"]
        ]
        delta_pdf = delta_pdf.assign(
            conv_id="conv-" + (delta_pdf.conv_id.str.slice(5).astype(int) + 900000)
            .astype(str).str.zfill(6)
        )
        base = spark.createDataFrame(base_pdf)
        delta = spark.createDataFrame(delta_pdf)
        full = spark.createDataFrame(
            __import__("pandas").concat([base_pdf, delta_pdf], ignore_index=True)
        )
        build_index(spark, base, f"{d}/base")

        t0 = time.time()
        build_index(spark, full, f"{d}/full")
        t_rebuild = time.time() - t0

        t0 = time.time()
        extend_index(spark, f"{d}/base", delta, f"{d}/ext")
        t_extend = time.time() - t0

        t0 = time.time()
        build_index(spark, delta, f"{d}/seg")
        t_segment = time.time() - t0

        # fold the segments WITHOUT raw text: decode+remap+re-merge index
        # bytes only (the compaction leg once deltas live as segments)
        t0 = time.time()
        compact_segments(spark, [f"{d}/base", f"{d}/seg"], f"{d}/cmp")
        t_compact = time.time() - t0
        assert load_meta(f"{d}/cmp")["n_docs"] == load_meta(f"{d}/full")["n_docs"]

        multi = MultiIndex(spark, [f"{d}/base", f"{d}/seg"])
        compacted = CompressedIndex(spark, f"{d}/ext")
        assert multi.n_docs == compacted.n_docs == load_meta(f"{d}/full")["n_docs"]
        multi.warm()
        compacted.warm()
        q_multi = _time_queries(multi)
        q_compacted = _time_queries(compacted)
        assert q_multi["batch_rows"] == q_compacted["batch_rows"]

        print(
            json.dumps(
                {
                    "metric": "lsm_segment_tradeoff",
                    "cores": cores,
                    "base_turns": len(base_pdf),
                    "delta_turns": len(delta_pdf),
                    "ingest_rebuild_s": round(t_rebuild, 2),
                    "ingest_extend_s": round(t_extend, 2),
                    "ingest_segment_s": round(t_segment, 2),
                    "compact_segments_s": round(t_compact, 2),
                    "query_multi": q_multi,
                    "query_compacted": q_compacted,
                }
            )
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
