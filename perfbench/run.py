#!/usr/bin/env python3
"""Benchmark of the transcript search engine.

    python3 perfbench/run.py --workload build|query --seed N --seconds S --trace 0|1

``build``: generate the ``sm`` corpus from ``--seed``, write it as parquet,
start a Spark session sized to the host (set-up) and time one fresh
``build_index`` with the default ``BuildConfig`` -- what a batch indexing
job waits for.  The index on disk is then checked against the oracle
(``gate.check_index``).

``query``: serve the library's fixed-seed ``sm`` index, built once per
engine version by ``prepare.py`` before the first run of either workload
times anything.  Set-up is the session start,
opening the index and a warm-up query per plan shape (JIT compilation,
Python worker start-up).  Then the seeded top-k stream of
``workload.py`` runs in a closed loop with one client for ``--seconds``.

Every output is checked against the pure-Python oracle after Spark stops.
``--trace 1`` adds spans around the calls into each layer (``tracing.py``)
and prints per-layer metrics instead (``layers.py``); on ``query`` it first
sends the stream untraced and then traced, which gives the tracing
overhead.  Spans go to ``.perfbench_work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
N_OPS = 300  # more queries than a run can send
MIN_QUERIES = 5  # the stream runs past --seconds until it has this many
# the first query in a fresh JVM is ~5x slower, and the next few still warm
# up (JIT); one query per plan shape before timing
WARMUP_CLASSES = ("head", "conj", "phrase", "bool")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sm", help="corpus.SCALES name (selftest.py uses xs)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        print(f"perfbench: no search_engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    import host
    import prepare

    cache = prepare.ensure(WORK, args.scale)  # the index query serves; not timed
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    host.prepare_env(ROOT, run_dir)
    sys.path.insert(0, ROOT)
    try:
        if args.workload == "build":
            result, conditions = run_build(args, run_dir)
        else:
            result, conditions = run_query(args, run_dir, cache)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"conditions": conditions}))
    print(json.dumps(result))
    return 0


def _tracer(args):
    from search_engine_spark import service
    from search_engine_spark.index import build as build_mod
    from search_engine_spark.index.build import IndexBuilder
    from search_engine_spark.index.reader import CompressedIndex

    from tracing import Tracer

    tracer = Tracer(bool(args.trace))
    if args.trace:
        tracer.wrap(IndexBuilder, "stage", "index.build.stage")
        tracer.wrap(IndexBuilder, "build_fused", "index.build.fused")
        # IndexBuilder.build calls finalize_index through the module global
        tracer.wrap(build_mod, "finalize_index", "index.build.finalize")
        for attr in ("idf_map", "topk", "topk_batch", "match_count"):
            tracer.wrap(CompressedIndex, attr, f"index.reader.{attr}")
        tracer.wrap(service, "search", "service.search")
    return tracer


def _result(args, attempted: int, reasons: list[str], metrics, conditions, tracer, root,
            run_dir, probes=None, traced_outs=(), passes=None) -> dict:
    """The result line; with tracing, the per-layer metrics replace the
    end-to-end ones and the spans are written out.  ``reasons`` holds one
    line per failed operation."""
    if args.trace:
        import layers

        tracer.unwrap_all()
        metrics, why = layers.per_layer(tracer, root, os.path.join(run_dir, "eventlog"),
                                        probes, list(traced_outs), passes)
        reasons = reasons + why
        os.makedirs(WORK, exist_ok=True)
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                    {"conditions": conditions})
    for why in reasons:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    failed = min(len(reasons), attempted)
    conditions["failed_frac"] = failed / attempted
    return {
        "correct": not reasons,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_build(args, run_dir: str):
    import gate
    import host
    import layers
    from search_engine_spark.corpus import generate_transcripts, write_transcripts_parquet
    from search_engine_spark.index.build import build_index
    from search_engine_spark.index.reader import CompressedIndex
    from workload import QueryGen

    conditions = {"workload": "build", "seed": args.seed, "scale": args.scale,
                  **host.conditions()}
    pdf = generate_transcripts(args.scale, args.seed)
    corpus = write_transcripts_parquet(os.path.join(run_dir, "transcripts.parquet"),
                                       args.scale, args.seed)
    texts = [t for t in pdf["text"].tolist() if isinstance(t, str)]
    gen = QueryGen(args.seed, texts)
    index_dir = os.path.join(run_dir, "index")
    tracer = _tracer(args)
    probes = None
    with tracer.span("run") as root:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = host.start_spark(run_dir, bool(args.trace))
            tracer.attach(spark.sparkContext)
        setup_s = time.perf_counter() - t0
        try:
            t1 = time.perf_counter()
            with tracer.span("index.build"):
                build_index(spark, spark.read.parquet(corpus), index_dir)
            build_s = time.perf_counter() - t1
            rss = host.peak_rss_mb("self") + host.peak_rss_mb(host.jvm_pid())
            if args.trace:
                with tracer.span("bench.probes"):
                    index = CompressedIndex(spark, index_dir)
                    probes = layers.probes(tracer, index, index_dir, gen.ops(20), [], texts)
                    probes["peak_rss_mb"] = rss
        finally:
            tracer.attach(None)
            host.stop_spark(spark)
    index_bytes = host.dir_bytes(index_dir)
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)
    conditions.update(**host.end_conditions(), turns=len(pdf), text_bytes=text_bytes,
                      index_bytes=index_bytes, peak_rss_mb=rss)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (build_s * 1e3, "ms"),
        "index_bytes_per_input_byte": (index_bytes / text_bytes, "ratio"),
    }
    reasons = gate.check_index(index_dir, gate.build_oracle(pdf), args.seed)
    return _result(args, 1, reasons, metrics, conditions, tracer, root, run_dir,
                   probes), conditions


def run_query(args, run_dir: str, cache: str):
    import gate
    import host
    import layers
    from search_engine_spark.corpus import SEED, generate_transcripts
    from search_engine_spark.index.reader import CompressedIndex
    from workload import Op, QueryGen, run_op

    conditions = {"workload": "query", "seed": args.seed, "scale": args.scale,
                  **host.conditions()}
    pdf = generate_transcripts(args.scale, SEED)
    texts = [t for t in pdf["text"].tolist() if isinstance(t, str)]
    gen = QueryGen(args.seed, texts)
    ops = gen.ops(N_OPS)
    index_dir = os.path.join(cache, "index")
    corpus = os.path.join(cache, "transcripts.parquet")
    tracer = _tracer(args)
    probes, passes, traced_outs = None, None, []

    def stream(index, transcripts, prefix: str, limit: int | None = None):
        """The first ``limit`` queries, or as many as fit in --seconds."""
        outs, t_start = [], time.perf_counter()
        for i, op in enumerate(ops[:limit]):
            timed_out = time.perf_counter() - t_start >= args.seconds
            if limit is None and i >= MIN_QUERIES and timed_out:
                break
            outs.append(run_op(index, transcripts, op, tracer, f"{prefix}{i}"))
        return outs, time.perf_counter() - t_start

    def open_index(spark):
        with tracer.span("index.reader.open"):
            index = CompressedIndex(spark, index_dir)
            index.warm()
            return index, spark.read.parquet(corpus)

    with tracer.span("run") as root:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = host.start_spark(run_dir, bool(args.trace))
            tracer.attach(spark.sparkContext)
        t_session = time.perf_counter() - t0
        try:
            index, transcripts = open_index(spark)
            with tracer.span("bench.warmup"):
                wgen = QueryGen(args.seed, texts, stream=1)
                warm = [run_op(index, transcripts, Op("topk", cls, *wgen.query(cls)), tracer,
                               f"w{cls}") for cls in WARMUP_CLASSES]
            setup_s = time.perf_counter() - t0
            if args.trace:
                with tracer.span("bench.untraced_pass"), tracer.muted():
                    stream_outs, base_s = stream(index, transcripts, "u")
                index, transcripts = open_index(spark)  # a cold idf cache again
                with tracer.span("bench.traced_pass"):
                    traced_outs, traced_s = stream(index, transcripts, "q",
                                                   limit=len(stream_outs))
                with tracer.span("bench.service_pass"):
                    traced_outs += [run_op(index, transcripts, op, tracer, f"p{i}")
                                    for i, op in enumerate(gen.service_ops())]
                with tracer.span("bench.probes"):
                    probes = layers.probes(tracer, index, index_dir,
                                           [o.op for o in traced_outs if o.op.kind == "topk"],
                                           traced_outs, texts)
                passes = (base_s, traced_s)
            else:
                stream_outs, _ = stream(index, transcripts, "q")
            rss = host.peak_rss_mb("self") + host.peak_rss_mb(host.jvm_pid())
            if probes is not None:
                probes["peak_rss_mb"] = rss
        finally:
            tracer.attach(None)
            host.stop_spark(spark)
    index_bytes = host.dir_bytes(index_dir)
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)
    lat = [o.latency_s for o in stream_outs if o.error is None] or [0.0]
    conditions.update(
        **host.end_conditions(), turns=len(pdf), text_bytes=text_bytes,
        index_bytes=index_bytes, session_start_s=t_session, peak_rss_mb=rss,
        query_ms=[[o.op.cls, round(o.latency_s * 1e3, 1)] for o in stream_outs])
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        "index_bytes_per_input_byte": (index_bytes / text_bytes, "ratio"),
    }
    outs = warm + stream_outs + traced_outs
    checker = gate.Gate(gate.build_oracle(pdf), pdf)
    reasons = [why for why in map(checker.check, outs) if why is not None]
    return _result(args, len(outs), reasons, metrics, conditions, tracer, root, run_dir,
                   probes, traced_outs, passes), conditions


if __name__ == "__main__":
    sys.exit(main())
