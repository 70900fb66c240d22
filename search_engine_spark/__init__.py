"""search_engine_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression of the query/data semantics of the reference
system ``mohamed-sameh-albaz/Search-Engine`` (Java/Spring/Postgres) on top of
Apache Spark: vectorized Arrow/pandas-UDF text normalization, per-partition
posting-list construction with delta+varbyte compression, doc-sharded
block-max index layout, BM25 top-k with block-max early termination,
checkpoint-resumable builds with per-partition lineage and metrics.

The correctness contract (tokenizer / stopword / Porter-stemmer semantics and
the BM25 formula) is documented in SURVEY.md §4.3 and pinned by the
pure-Python oracle in :mod:`search_engine_spark.oracle`.
"""

__version__ = "0.1.0"
