#!/usr/bin/env python3
"""Build the index the ``query`` workload serves, once per engine version.

    python3 perfbench/prepare.py <cache_dir> <scale>

Writes ``transcripts.parquet`` (the library's fixed-seed corpus at
``scale``) and ``index/`` (``build_index`` with the default
``BuildConfig``) into a temporary directory, then renames it to
``cache_dir``.  The first run in a checkout, of either workload, starts this
in its own process before anything is timed, so every measured ``query``
session begins from a cold JVM.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cache_dir(work: str, scale: str) -> str:
    """Cache path keyed by the engine's source files and the corpus scale."""
    h = hashlib.sha1(scale.encode())
    pkg = os.path.join(ROOT, "search_engine_spark")
    for path in sorted(os.path.join(d, f) for d, _, files in os.walk(pkg)
                       if "__pycache__" not in d for f in files):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return os.path.join(work, f"index-{scale}-{h.hexdigest()[:16]}")


def ensure(work: str, scale: str) -> str:
    """The cache directory for ``scale``, built first (in a child process)
    if this engine version has none yet."""
    out = cache_dir(work, scale)
    if not os.path.isdir(out):
        subprocess.run([sys.executable, os.path.abspath(__file__), out, scale],
                       check=True, stdout=subprocess.DEVNULL)
    return out


def main(out: str, scale: str) -> int:
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    sys.path.insert(0, HERE)
    import host

    host.prepare_env(ROOT, tmp)
    sys.path.insert(0, ROOT)
    from search_engine_spark.corpus import SEED, write_transcripts_parquet
    from search_engine_spark.index.build import build_index

    try:
        corpus = write_transcripts_parquet(os.path.join(tmp, "transcripts.parquet"), scale, SEED)
        spark = host.start_spark(tmp, event_log=False)
        try:
            build_index(spark, spark.read.parquet(corpus), os.path.join(tmp, "index"))
        finally:
            host.stop_spark(spark)
        shutil.rmtree(os.path.join(tmp, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(tmp, "spark-local"), ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
