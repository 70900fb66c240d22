"""Per-layer metrics of a traced run.

Two sources: the spans and Spark jobs recorded while the workload ran
(build phases, reader, service), and driver-side probes that call the
pure-Python layers directly on this run's data (``textproc.analyze_text``
over corpus turns, ``codec.decode_postings_block`` and the two top-k
kernels over the posting blocks of the run's disjunctive queries).

Every metric is reported on both workloads; a layer the workload leaves
idle reads 0 (no build phases on ``query``, no reader traffic on ``build``).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from search_engine_spark.index.codec import decode_postings_block
from search_engine_spark.index.kernels import TermPostings, blockmax_topk, exact_topk
from search_engine_spark.index.reader import parse_query
from search_engine_spark.textproc import analyze_query, analyze_text

import host
from tracing import read_event_log
from workload import K

TEXT_SAMPLE = 400  # corpus turns timed through analyze_text
KERNEL_QUERIES = 10  # disjunctive queries replayed through the kernels
CLASSES = ("head", "tail", "conj", "phrase", "bool", "ref")
# span names whose summed self time is reported as "<name>.self_s"
SELF_SPANS = (
    "run", "session.start", "index.build", "index.build.stage", "index.build.fused",
    "index.build.finalize", "index.reader.open", "bench.warmup",
    "bench.untraced_pass", "bench.traced_pass", "bench.service_pass", "op.topk",
    "op.search", "op.batch", "index.reader.topk", "index.reader.idf_map",
    "index.reader.match_count", "index.reader.topk_batch", "service.search",
    "bench.probes", "probe.textproc", "probe.reader", "probe.postings", "probe.codec",
    "probe.kernels",
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def probes(tracer, index, index_dir: str, ops, outs, texts: list[str]) -> dict:
    """Driver-side layer measurements, each under its own span.

    ``ops`` supply the queries replayed through textproc, codec and the
    kernels; ``outs`` (top-k outcomes of the run) the postings-per-query
    and yield figures."""
    res: dict = {}
    with tracer.span("probe.textproc"):
        sample = texts[:: max(1, len(texts) // TEXT_SAMPLE)][:TEXT_SAMPLE]
        t0 = time.perf_counter()
        n_tok = sum(len(analyze_text(t)) for t in sample)
        res["tokens_per_s"] = n_tok / (time.perf_counter() - t0)
        t0 = time.perf_counter()
        for op in ops:
            analyze_query(op.query)
        res["analyze_query_us"] = (time.perf_counter() - t0) / max(1, len(ops)) * 1e6
    with tracer.span("probe.reader"):
        dfs, rows = [], []
        for o in outs:
            if o.op.kind != "topk" or o.error is not None:
                continue
            spec = parse_query(o.op.query, o.op.mode)
            dfs.append(sum(index.df_map(spec.score_terms).values()) if spec else 0)
            rows.append(len(o.rows))
        res["postings_per_query"] = _mean(dfs)
        res["topk_yield"] = sum(rows) / sum(dfs) if sum(dfs) else 0.0
    with tracer.span("probe.postings"):
        blocks = pq.read_table(os.path.join(index_dir, "postings")).to_pandas()
        blocks = blocks[blocks["term"].notna()]
        sizes = {c: int(blocks[c].map(len).sum())
                 for c in ("doc_blob", "tf_blob", "dl_blob", "pos_blob")}
        n_post = int(blocks["n"].sum())
        res.update(
            n_terms=int(blocks["term"].nunique()), n_postings=n_post, n_blocks=len(blocks),
            postings_mb=(sizes["doc_blob"] + sizes["tf_blob"] + sizes["dl_blob"]) / 1e6,
            positions_mb=sizes["pos_blob"] / 1e6,
            bytes_per_posting=sum(sizes.values()) / n_post if n_post else 0.0,
        )
    queries = []
    for op in ops:
        spec = parse_query(op.query, op.mode) if op.mode == "disjunctive" else None
        if spec is not None and spec.score_terms:
            queries.append(list(spec.score_terms))
    queries = queries[:KERNEL_QUERIES]
    with tracer.span("probe.codec"):
        sel = blocks[blocks["term"].isin({t for q in queries for t in q})]
        t0 = time.perf_counter()
        n = sum(len(decode_postings_block(d, t)[0])
                for d, t in zip(sel["doc_blob"], sel["tf_blob"]))
        dt = time.perf_counter() - t0
        res["decode_postings_per_s"] = n / dt if dt > 0 else 0.0
    with tracer.span("probe.kernels"):
        bm_s = ex_s = 0.0
        mismatches = 0
        for q in queries:
            idf = index.idf_map(q)
            for _, g in blocks[blocks["term"].isin(q)].groupby("group"):
                def plists(g=g):
                    return {str(t): TermPostings(str(t), tdf, idf[str(t)], index.avgdl)
                            for t, tdf in g.groupby("term", sort=True)}
                a, b = plists(), plists()
                t0 = time.perf_counter()
                bm = blockmax_topk(a, idf, index.avgdl, K)
                t1 = time.perf_counter()
                ex = exact_topk(b, idf, index.avgdl, K)
                bm_s += t1 - t0
                ex_s += time.perf_counter() - t1
                if not (np.array_equal(bm[0], ex[0]) and np.array_equal(bm[1], ex[1])):
                    mismatches += 1
        res["blockmax_ms"] = bm_s / max(1, len(queries)) * 1e3
        res["exact_ms"] = ex_s / max(1, len(queries)) * 1e3
        res["kernel_mismatches"] = mismatches
    return res


def per_layer(tracer, root, log_dir: str, pr: dict, outs, passes) -> tuple[dict, list[str]]:
    """Metric dict {name: (value, unit)} and the trace's own failures."""
    jobs_by_group: dict[str, list] = {}
    for j in read_event_log(log_dir):
        jobs_by_group.setdefault(j.group, []).append(j)
    measured = {sid for s in tracer.spans if s.name in ("bench.traced_pass", "bench.service_pass")
                for sid in tracer.subtree(s.sid)}

    def spans(name: str, within: set | None = None):
        return [s for s in tracer.spans
                if s.name == name and (within is None or s.sid in within)]

    def jobs(span) -> list:
        return [j for sid in tracer.subtree(span.sid) for j in jobs_by_group.get(sid, [])]

    def total(name: str) -> float:
        return sum(s.dur for s in spans(name))

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (total("session.start"), "s")
    m["host.peak_rss_mb"] = (pr["peak_rss_mb"], "MB")
    m["textproc.analyze_text_tokens_per_s"] = (pr["tokens_per_s"], "tokens/s")
    m["textproc.analyze_query_us"] = (pr["analyze_query_us"], "us")

    bjobs = [j for s in spans("index.build") for j in jobs(s)]
    m["index.build.stage_s"] = (total("index.build.stage"), "s")
    m["index.build.fused_s"] = (total("index.build.fused"), "s")
    m["index.build.finalize_s"] = (total("index.build.finalize"), "s")
    m["index.build.jobs"] = (len(bjobs), "count")
    m["index.build.tasks"] = (sum(j.tasks for j in bjobs), "count")
    fjobs = [j for s in spans("index.build.fused") for j in jobs(s)]
    cpu = sum(j.cpu_s for j in fjobs)
    fused_s = total("index.build.fused")
    m["index.build.fused.executor_cpu_s"] = (cpu, "s")
    m["index.build.fused.cpu_util"] = (
        cpu / (fused_s * host.nproc()) if fused_s else 0.0, "ratio")
    m["index.build.fused.shuffle_write_mb"] = (sum(j.shuffle_write_b for j in fjobs) / 1e6, "MB")
    m["index.build.fused.spill_mb"] = (sum(j.spill_b for j in fjobs) / 1e6, "MB")
    m["index.build.fused.gc_s"] = (sum(j.gc_s for j in fjobs), "s")
    # merge stage: the fused job's shuffle-reading stage with the most task time
    merge = max((j.stage_task_s[st] for j in fjobs for st in j.stage_task_s
                 if j.stage_shuffle_read.get(st, 0) > 0), key=sum, default=[])
    mid = _median(merge)
    m["index.build.fused.task_skew"] = (max(merge) / mid if mid else 0.0, "ratio")
    for k in ("n_terms", "n_postings", "n_blocks"):
        m[f"index.build.{k}"] = (pr[k], "count")
    m["index.build.postings_mb"] = (pr["postings_mb"], "MB")
    m["index.build.positions_mb"] = (pr["positions_mb"], "MB")

    m["index.codec.decode_postings_per_s"] = (pr["decode_postings_per_s"], "postings/s")
    m["index.codec.bytes_per_posting"] = (pr["bytes_per_posting"], "B")

    ok = [o for o in outs if o.error is None]
    disj = [o.latency_s * 1e3 for o in ok
            if o.op.kind == "topk" and o.op.cls in ("head", "tail")]
    m["index.kernels.blockmax_ms"] = (pr["blockmax_ms"], "ms")
    m["index.kernels.exact_ms"] = (pr["exact_ms"], "ms")
    m["index.kernels.topk_share_pct"] = (
        pr["blockmax_ms"] / _mean(disj) * 100 if disj else 0.0, "%")

    for cls in CLASSES:
        m[f"index.reader.topk_{cls}_ms"] = (_median(
            o.latency_s * 1e3 for o in ok if o.op.kind == "topk" and o.op.cls == cls), "ms")
    idf = spans("index.reader.idf_map", measured)
    m["index.reader.idf_ms"] = (_mean(s.dur * 1e3 for s in idf), "ms")
    m["index.reader.idf_jobs"] = (_mean(len(jobs(s)) for s in idf), "count")
    tops = spans("op.topk", measured)
    m["index.reader.jobs_per_query"] = (_mean(len(jobs(s)) for s in tops), "count")
    m["index.reader.tasks_per_query"] = (
        _mean(sum(j.tasks for j in jobs(s)) for s in tops), "count")
    m["index.reader.postings_per_query"] = (pr["postings_per_query"], "postings")
    m["index.reader.topk_yield"] = (pr["topk_yield"], "ratio")
    m["index.reader.match_count_ms"] = (
        _mean(s.dur * 1e3 for s in spans("index.reader.match_count", measured)), "ms")
    batches = spans("op.batch", measured)
    m["index.reader.batch_jobs"] = (_mean(len(jobs(s)) for s in batches), "count")
    m["index.reader.batch_ms"] = (_mean(s.dur * 1e3 for s in batches), "ms")
    searches = spans("op.search", measured)
    m["service.search_ms"] = (_mean(s.dur * 1e3 for s in searches), "ms")
    m["service.jobs_per_search"] = (_mean(len(jobs(s)) for s in searches), "count")
    m["service.tasks_per_search"] = (
        _mean(sum(j.tasks for j in jobs(s)) for s in searches), "count")

    selfs = tracer.self_times()
    self_sum = sum(selfs.values())
    for name in SELF_SPANS:
        m[f"{name}.self_s"] = (sum(selfs[s.sid] for s in spans(name)), "s")
    m["trace.wall_s"] = (root.dur, "s")
    m["trace.self_sum_s"] = (self_sum, "s")
    m["trace.spans"] = (len(tracer.spans), "count")
    m["trace.overhead_pct"] = (
        (passes[1] - passes[0]) / passes[0] * 100 if passes else 0.0, "%")

    failures = []
    if abs(self_sum - root.dur) > 1e-6 * max(1.0, root.dur):
        failures.append(f"span self times sum to {self_sum} s, not the wall {root.dur} s")
    if pr["kernel_mismatches"]:
        failures.append("blockmax_topk and exact_topk disagree")
    return m, failures
