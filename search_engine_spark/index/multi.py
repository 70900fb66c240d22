"""LSM read path: query a base index plus delta segments as ONE index.

``extend_index`` (extend.py) absorbs a delta by rewriting the merged
posting blocks — O(index bytes) per delta.  At 10^12 turns the index
bytes themselves are tens of TB, so per-delta rewrites are the wrong
steady state.  ``MultiIndex`` completes the LSM picture the way Lucene
segments do (public design; also the shape of the reference's freshness
story, where ``IndexerService.java:57-68`` upserts rows without ever
rebuilding the table):

  * ingest  — each delta becomes its OWN small index via a plain
    ``build_index`` over just the delta (O(delta) work, no old bytes
    touched; conversations/turns must be disjoint from other segments),
  * query   — ``MultiIndex([base, d1, d2, ...])`` answers with global
    BM25 statistics: N = Σ n_docs, avgdl = Σ dl / N, df(t) = Σ df_i(t)
    (segments hold disjoint documents, so document frequencies add),
    all exact, so results match a from-scratch build of the union
    byte-for-byte (pinned by tests),
  * compact — ``extend_index`` folds accumulated deltas back into one
    root when the segment count grows; queries regain the single-index
    exact-cut kernels (top-k cut at k, no boundary ties).

The query plans are the single-index ones (``reader.IndexReader``);
this class supplies the segmented hooks.  Each segment's bucket-pruned
postings scan is unioned with a ``seg`` literal; ONE grouped kernel pass
scores every (seg, group) partition against the broadcast global
idf/avgdl (format v5 blocks carry per-posting doclens inline, so no
segment-local state is needed); candidates map back to conversations
through their own segment's convs table (doc ids are segment-local
ranks); a global ``ORDER BY score, conv_id, turn_idx LIMIT k`` merges
segments.  The kernels always run ``with_ties=True`` here — doc-id
order means nothing ACROSS segments, so boundary score-ties must
surface for the global sort to resolve.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .codec import varbyte_decode
from .reader import (
    EXPLAIN_SCHEMA,
    LABELED_SCHEMA,
    RESULT_SCHEMA,
    CompressedIndex,
    IndexReader,
    Tombstones,
    _assemble_explain,
    _fetch_terms,
    _grouped_apply,
    _make_collapse_kernel,
    _tomb_key,
    _weighted_idf,
    resolve_tombstones,
)


class MultiIndex(IndexReader):
    """Read-only view over several index segments, later segments win.

    Pass ``roots`` in chronological order (oldest first).  Effective
    documents must be disjoint: a (conv_id, turn_idx) may appear in
    several segments ONLY when every earlier occurrence is named by a
    later segment's SHADOW sidecar (``ingest_update_segment`` writes it;
    plain ``build_index`` segments must stay disjoint — ``extend_index``
    still enforces that on compaction).  Shadowed docs are excluded at
    candidate time like tombstones, and the global statistics are
    corrected EXACTLY (not the usual LSM approximation):

    * N and Σdl subtract the sidecars' ``n_prev``/``dl_prev`` totals —
      each superseded live occurrence is counted by exactly one sidecar;
    * per-term df subtracts the number of shadowed docs whose posting
      lists contain the term, counted from the shadowed docs' own
      blocks at query time (bucket- and group-pruned, memoized per
      term in the idf cache).

    Results therefore equal a fresh build of the updated corpus
    byte-for-byte (pinned by tests).

    Layout invariants (format v5, conv_rank scheme, turn_bits,
    num_buckets) must match across segments; num_groups may differ
    (groups are per-segment parallelism units, never joined across
    segments).
    """

    tie_safe = True  # doc-id order means nothing across segments

    def __init__(self, spark: SparkSession, roots: list[str]):
        if not roots:
            raise ValueError("MultiIndex needs at least one segment root")
        self.spark = spark
        self.segments = [CompressedIndex(spark, r) for r in roots]
        s0 = self.segments[0]
        for seg in self.segments:
            if seg.scheme != "conv_rank":
                raise ValueError(
                    f"MultiIndex segment {seg.paths.root} uses doc-id scheme "
                    f"{seg.scheme!r}; segments must be conv_rank batch builds"
                )
            if int(seg.turn_bits) != int(s0.turn_bits):
                raise ValueError("MultiIndex segments disagree on turn_bits")
            if int(seg.num_buckets) != int(s0.num_buckets):
                raise ValueError("MultiIndex segments disagree on num_buckets")
        self.turn_bits = int(s0.turn_bits)
        self.num_buckets = int(s0.num_buckets)
        # exact global stats from the per-group doclen tables (G rows per
        # segment — one tiny job, not a corpus scan); summing the integer
        # totals reproduces the single-index avgdl bit-for-bit
        doclen = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(seg.paths.doclen).select("n_docs", "sum_dl")
             for seg in self.segments],
        )
        r = doclen.agg(
            F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("tok")
        ).collect()[0]
        # shadow sidecars (update segments): keys a later segment
        # supersedes in earlier ones — applied as per-segment exclusion
        # sets, with exact N/Σdl corrections from the sidecar totals
        from .extend import read_shadow_keys, shadows_path

        self._shadow_keys = [read_shadow_keys(spark, r) for r in roots]
        self._shadow_for: list[list[tuple[str, int]]] = []
        for i in range(len(roots)):
            s: set[tuple[str, int]] = set()
            for j in range(i + 1, len(roots)):
                s.update(self._shadow_keys[j])
            self._shadow_for.append(sorted(s))
        self._shadow_resolved: dict[int, tuple] | None = None
        n_excl = dl_excl = 0
        import os as _os

        sidecars = [
            spark.read.parquet(shadows_path(r))
            for r in roots
            if _os.path.exists(shadows_path(r))
        ]
        if sidecars:
            sc = (
                reduce(DataFrame.unionByName, sidecars)
                .agg(F.sum("n_prev").alias("n"), F.sum("dl_prev").alias("dl"))
                .collect()[0]
            )
            n_excl, dl_excl = int(sc["n"] or 0), int(sc["dl"] or 0)
        self.n_docs = int(r["n"] or 0) - n_excl
        self.avgdl = (
            (int(r["tok"] or 0) - dl_excl) / self.n_docs if self.n_docs else 0.0
        )
        # segments hold disjoint docs, so per-term document frequencies
        # ADD; idf is recomputed from the summed df at the global N
        self._df_all = reduce(
            DataFrame.unionByName,
            [seg._idf.select("term", "df", "bucket") for seg in self.segments],
        )
        # conversation map: doc ids are segment-local conv ranks, so the
        # label join is on (seg, conv_rank); one conversation may appear
        # in several segments (new turns in a later delta) — each row
        # maps only its own segment's candidates
        self._convs = reduce(
            DataFrame.unionByName,
            [
                seg._convs.select("conv_id", "conv_rank").withColumn("seg", F.lit(i))
                for i, seg in enumerate(self.segments)
            ],
        ).cache()
        self._idf_cache: dict[str, float] = {}
        self._df_cache: dict[str, int] = {}
        self._tomb_memo: dict[tuple, dict] = {}
        self._after_memo: dict[tuple, dict] = {}
        from collections import OrderedDict

        self._results: "OrderedDict[tuple, list]" = OrderedDict()

    def warm(self) -> None:
        self._convs.count()

    # -- global statistics -------------------------------------------

    def _resolve_tomb(self, tombstones) -> dict | None:
        """Tombstone items → one resolved set per segment (doc ids are
        segment-local rank encodings); kernels pick their segment's set
        from the batch's ``seg`` column.  Memoized per distinct item
        list — resolution costs one small collect job PER SEGMENT, and
        service.search would otherwise pay it twice per request (topk +
        match_count)."""
        if not tombstones:
            return None
        key = _tomb_key(tombstones)
        hit = self._tomb_memo.get(key)
        if hit is None:
            hit = {
                i: resolve_tombstones(seg._convs, tombstones)
                for i, seg in enumerate(self.segments)
            }
            self._tomb_memo[key] = hit
        return hit

    def _resolve_after(self, search_after) -> dict | None:
        """(score, conv_id, turn_idx) cursor → one (score, cursor_doc_id)
        per SEGMENT (doc ids are segment-local rank encodings), memoized
        per distinct cursor.  Each segment resolves independently via
        :meth:`CompressedIndex._resolve_after` — a segment not holding
        the cursor conversation cuts through its boundary rank, so the
        filter stays exact even when the cursor doc lives elsewhere."""
        if search_after is None:
            return None
        score, conv_id, turn_idx = search_after
        key = (str(conv_id), int(turn_idx))
        hit = self._after_memo.get(key)
        if hit is None:
            hit = {
                i: seg._resolve_after((0.0, conv_id, turn_idx))[1]
                for i, seg in enumerate(self.segments)
            }
            self._after_memo[key] = hit
        return {i: (float(score), cdoc) for i, cdoc in hit.items()}

    def _shadow_exclude(self) -> dict | None:
        """Per-segment (Tombstones, affected-groups) for shadowed docs,
        resolved once per instance — sidecar lists are update-batch
        sized, so the rank lookup is one small collect per segment."""
        if not any(self._shadow_for):
            return None
        if self._shadow_resolved is None:
            d: dict[int, tuple] = {}
            for i, seg in enumerate(self.segments):
                items = self._shadow_for[i]
                if not items:
                    continue
                need = sorted({c for c, _ in items})
                rows = (
                    seg._convs.filter(F.col("conv_id").isin(need))
                    .select("conv_id", "conv_rank", "group")
                    .collect()
                )
                rank = {r.conv_id: (int(r.conv_rank), int(r.group)) for r in rows}
                ids, groups = [], set()
                for c, t in items:
                    if c in rank:
                        ids.append((rank[c][0] << self.turn_bits) | int(t))
                        groups.add(rank[c][1])
                if ids:
                    d[i] = (
                        Tombstones(
                            np.asarray(ids, dtype=np.int64),
                            np.empty(0, dtype=np.int64),
                        ),
                        sorted(groups),
                    )
            self._shadow_resolved = d
        return self._shadow_resolved or None

    def _exclude(self, tombstones) -> dict | None:
        """User tombstones ∪ shadow supersession, per segment."""
        user = self._resolve_tomb(tombstones)
        sh = self._shadow_exclude()
        if sh is None:
            return user
        out: dict[int, Tombstones] = {}
        for i in range(len(self.segments)):
            u = user.get(i) if user else None
            s = sh.get(i, (None, None))[0]
            if u is not None and s is not None:
                out[i] = Tombstones(
                    np.concatenate([u.doc_ids, s.doc_ids]),
                    np.concatenate([u.conv_ranks, s.conv_ranks]),
                )
            elif s is not None:
                out[i] = s
            elif u is not None:
                out[i] = u
        return out

    def _shadow_df_counts(self, terms: list[str]) -> dict[str, int]:
        """For each term: how many SHADOWED docs contain it, summed over
        segments — the exact df correction.  One bucket+group-pruned
        scan of the shadowed docs' posting blocks per segment that has
        any (results land in the idf cache, so each term pays once)."""
        out = {t: 0 for t in terms}
        sh = self._shadow_exclude()
        if sh is None or not terms:
            return out
        for i, seg in enumerate(self.segments):
            if i not in sh:
                continue
            tomb, groups = sh[i]
            ids = np.sort(tomb.doc_ids)

            def cnt(batches, _ids=ids):
                for pdf in batches:
                    ts, cs = [], []
                    for term, blob in zip(pdf["term"], pdf["doc_blob"]):
                        docs = np.cumsum(varbyte_decode(blob).astype(np.int64))
                        j = np.searchsorted(_ids, docs)
                        hit = (j < _ids.size) & (
                            _ids[np.minimum(j, _ids.size - 1)] == docs
                        )
                        ts.append(term)
                        cs.append(int(hit.sum()))
                    yield pd.DataFrame({"term": ts, "c": cs})

            rows = (
                seg.postings_df(terms)
                .filter(F.col("group").isin(groups))
                .select("term", "doc_blob")
                .mapInPandas(cnt, schema="term string, c long")
                .groupBy("term")
                .agg(F.sum("c").alias("c"))
                .collect()
            )
            for r in rows:
                out[r["term"]] += int(r["c"])
        return out

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        """Global idf: df summed across segments, the build formula
        ``ln((1+N)/(1+df)) + 1`` (IndexerService.java:966) applied at
        the global N.  Bucket-pruned on every segment's idf table."""
        import math

        uniq = sorted(set(terms))
        if not uniq:
            return {}
        missing = [t for t in uniq if t not in self._idf_cache]
        if missing:
            buckets = self.segments[0]._buckets(missing)
            rows = (
                self._df_all.filter(
                    F.col("bucket").isin(buckets) & F.col("term").isin(missing)
                )
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            corr = self._shadow_df_counts(missing)
            for t in missing:
                df = found.get(t, 0) - corr.get(t, 0)
                self._df_cache[t] = df
                self._idf_cache[t] = (
                    math.log((1.0 + self.n_docs) / (1.0 + df)) + 1.0
                )
        return {t: self._idf_cache[t] for t in uniq}

    def df_map(self, terms: list[str]) -> dict[str, int]:
        """Per-term GLOBAL document frequency (segment dfs summed minus
        shadow-superseded copies — same scan and cache as
        :meth:`idf_map`); absent terms get df=0."""
        self.idf_map(terms)
        return {t: self._df_cache[t] for t in sorted(set(terms))}

    def _postings(self, terms: list[str]) -> DataFrame:
        return reduce(
            DataFrame.unionByName,
            [
                seg.postings_df(terms).withColumn("seg", F.lit(i))
                for i, seg in enumerate(self.segments)
            ],
        )

    def _vocab_topdf(
        self, items: list[tuple[str, object]], limit: int
    ) -> dict[str, list[str]]:
        """Per-key top-df expansion over the UNION vocabulary: filtered
        union of segment idf tables → df summed per term → distributed
        TakeOrdered cap, so the driver receives at most ``limit`` rows
        per key.  ``items`` = (key, boolean Column over one segment's idf
        frame).  The sums are raw — shadow-superseded copies may inflate
        a tie-break, which only affects the cap boundary ordering, never
        scoring (scoring idf stays exact via :meth:`idf_map`)."""
        parts = []
        for key, cond in items:
            summed = (
                reduce(
                    DataFrame.unionByName,
                    [
                        seg._idf.filter(cond).select("term", "df")
                        for seg in self.segments
                    ],
                )
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
            )
            parts.append(
                summed.orderBy(F.desc("df"), F.asc("term"))
                .limit(limit)
                .select(F.lit(key).alias("key"), "term", "df")
            )
        rows = reduce(DataFrame.unionByName, parts).collect()
        by_key: dict[str, list[tuple[int, str]]] = {}
        for r in rows:  # union row order is unspecified — re-rank driver-side
            by_key.setdefault(r["key"], []).append((int(r["df"]), r["term"]))
        return {
            p: [t for _df, t in sorted(hits, key=lambda x: (-x[0], x[1]))]
            for p, hits in by_key.items()
        }

    def _fuzzy_rows(self, terms: list[str]) -> dict[str, list[tuple[str, int]]]:
        """Per-segment delete-1 collision candidates merged with df
        summed (raw sums, like :meth:`_vocab_topdf`) — the MultiIndex
        face of ``CompressedIndex._fuzzy_rows``, so fuzzy expansion and
        did-you-mean (operators/didyoumean.py) share ONE merge contract."""
        merged: dict[str, dict[str, int]] = {t: {} for t in terms}
        for seg in self.segments:
            for t, lst in seg._fuzzy_rows(terms).items():
                acc = merged[t]
                for w, dfv in lst:
                    acc[w] = acc.get(w, 0) + dfv
        return {t: list(d.items()) for t, d in merged.items()}

    def expand_synonyms(
        self, query_text: str, mapping: dict | None = None,
        analyzed: bool = False,
    ) -> str:
        """Synonym splice over the segment set — the sidecar is a
        query-layer setting kept on the BASE segment (segment 0), so
        the single-index method serves unchanged; explicit ``mapping``
        overrides it (same contract as
        :meth:`CompressedIndex.expand_synonyms`)."""
        return self.segments[0].expand_synonyms(query_text, mapping, analyzed)

    def _label(self, cand: DataFrame, extra: tuple = ()) -> DataFrame:
        cols = [*extra, "conv_id", "turn_idx", "score"]
        return (
            cand.withColumn("conv_rank", F.shiftrightunsigned("doc_id", self.turn_bits))
            .withColumn(
                "turn_idx",
                F.col("doc_id").bitwiseAND(F.lit((1 << self.turn_bits) - 1)).cast("int"),
            )
            .join(self._convs, ["seg", "conv_rank"])
            .select(*cols)
        )

    # -- query -------------------------------------------------------

    def scope_docs(self, turns: DataFrame) -> DataFrame:
        """Resolve a metadata predicate's matching turns against EVERY
        segment → (seg, group, doc_id): doc ids are segment-local, so
        each segment resolves against its own convs table (one thin join
        per segment; compaction bounds the segment count).  A turn
        indexed in several segments (update shadows) resolves in each —
        the shadow exclusion already removes the superseded copy at
        kernel time, so scoped results stay update-consistent."""
        keys = turns.select("conv_id", "turn_idx")
        return reduce(
            DataFrame.unionByName,
            [
                seg.scope_docs(keys).withColumn("seg", F.lit(i))
                for i, seg in enumerate(self.segments)
            ],
        )

    def _grouped(self, post: DataFrame, scope: DataFrame | None, fn, schema: str) -> DataFrame:
        """One kernel pass per (seg, group) partition — groups are
        per-segment, never joined across segments; the output gains the
        segment id from the group key, which the label join needs."""

        def kernel(key: tuple, pdf: pd.DataFrame, allow) -> pd.DataFrame:
            out = fn(pdf, allow)
            out.insert(0, "seg", np.full(len(out), key[0], dtype="int32"))
            return out

        allow = None if scope is None else self.scope_docs(scope)
        return _grouped_apply(post, allow, ("seg", "group"), kernel, "seg int, " + schema)

    def topk_conversations(
        self,
        query_text: str,
        mode: str = "disjunctive",
        k: int = 10,
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        search_after: tuple | None = None,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Conversation-collapsed top-k across segments → DataFrame
        (conv_id, turn_idx, score).  A conversation CAN span segments
        (extend appends turns to existing convs), so each (seg, group)
        collapses locally — bounding the exchange at S·G·k rows — and a
        window re-collapses per conv_id before the global cut.  A conv
        whose best turn was cut by a segment-local top-k cannot belong
        to the global top-k (that segment already holds k better convs),
        so the two-level collapse stays exact.

        ``search_after`` is NOT supported here: a conversation spanning
        segments collapses to its best turn only AFTER the cross-segment
        window, so a per-segment cursor filter could resurface a
        conversation already served at a higher cross-segment score.
        Collapsed deep pagination needs a compacted (single) index."""
        from pyspark.sql import Window

        if search_after is not None:
            raise ValueError(
                "search_after on conversation-collapsed results needs a "
                "single compacted index (a conv spanning segments would "
                "paginate on per-segment bests, not its global best); "
                "compact first or paginate turn-level topk"
            )
        if spec is None:
            spec = self._parse(query_text, mode, analyzed, min_match)
        if spec is None:
            return self.spark.createDataFrame([], LABELED_SCHEMA)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        fn = _make_collapse_kernel(
            spec, idf, self.avgdl, k, with_ties=self.tie_safe,
            exclude=self._exclude(tombstones), turn_bits=self.turn_bits,
        )
        cand = self._grouped(self._postings(_fetch_terms(spec)), scope, fn, RESULT_SCHEMA)
        w = Window.partitionBy("conv_id").orderBy(
            F.desc("score"), F.asc("turn_idx")
        )
        return (
            self._label(cand)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
            .limit(k)
        )

    def explain(
        self,
        query_text: str,
        conv_id: str,
        turn_idx: int,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Per-term score breakdown of ONE document across segments —
        same contract as :meth:`CompressedIndex.explain`, with GLOBAL
        statistics: idf/df merged across segments (shadow-corrected),
        avgdl the corrected global mean — so contributions sum to the
        MultiIndex :meth:`topk` score bit-for-bit.

        A (conv_id, turn_idx) has at most one LIVE occurrence across
        segments (the MultiIndex invariant; earlier copies are shadow-
        superseded), so segments probe newest-first: the conversation's
        segments each pay one convs lookup, but only the owner runs the
        group-pruned postings kernel.  Shadowed or tombstoned
        occurrences explain as absent — the ES ``matched: false``."""
        if spec is None:
            spec = self._parse(query_text, mode, analyzed, min_match)
        empty = self.spark.createDataFrame([], EXPLAIN_SCHEMA)
        if spec is None:
            return empty
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        excl = self._exclude(tombstones)
        for i in reversed(range(len(self.segments))):
            seg = self.segments[i]
            coords = seg._doc_coords(conv_id, turn_idx)
            if coords is None:
                continue
            group, doc_id = coords
            tomb = excl.get(i) if excl else None
            if tomb is not None and not tomb.keep_mask(
                np.asarray([doc_id], dtype=np.int64), self.turn_bits
            )[0]:
                continue  # shadow-superseded (or user-tombstoned) here
            rows = seg._explain_rows(spec, idf, self.avgdl, group, doc_id)
            if rows:
                return _assemble_explain(
                    self.spark, rows, self.idf_map(spec.score_terms),
                    self.df_map(spec.score_terms), spec, self.avgdl,
                )
        return empty
