"""The benchmark's workloads: seeded inputs, set-up, and the timed pass.

Every workload calls the engine only through its public functions, with
inputs generated here from the seed.  A pass is a run of timed units
(ingest cycles or substring rounds); each engine call is one span, and each
answer is checked against a brute-force oracle right after the call
returns, outside its span.  ``failed`` counts requests whose
answer disagreed with the oracle, or calls that raised.
"""

from __future__ import annotations

import os
import time
import traceback
from itertools import count
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from full_text_index_spark.corpus import (
    CORPUS_SCHEMA,
    generate_corpus_pdf,
    generate_queries,
)
from full_text_index_spark.index import InvertedIndex

from perfbench import oracles
from perfbench.harness import Spans, median, snapshot, written

QUERY_SCHEMA = "qid long, terms array<string>"
ABSENT_CHAR = "j"  # no vocabulary syllable, id or url character uses it


class Workload:
    """Shared pass driver.  Subclasses define setup(), unit() and e2e()."""

    #: timed units in a pass; None runs whole units until ``seconds`` were
    #: measured (at least one)
    fixed_units: int | None = None

    def __init__(self, cfg: dict, load: dict, seed: int):
        self.cfg, self.load, self.seed = cfg, load, seed
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, what: str, n_requests: int, n_bad: int) -> None:
        self.attempted += n_requests
        if n_bad:
            self.failed += n_bad
            self.notes.append(f"oracle mismatch: {what}: {n_bad}/{n_requests}")

    def run_pass(self, spark, root: Path, spans: Spans, *, seconds=0.0,
                 units=None, diagnostics=False) -> int:
        """Runs ``units`` timed units, by default ``fixed_units``, or whole
        units until ``seconds`` were measured.  Returns the units run.
        An engine error ends the pass and counts as a failed request."""
        self.begin_pass(spark, root)
        if units is None:
            units = self.fixed_units
        measured = 0.0
        for i in count():
            if i >= units if units is not None else (
                    i >= 1 and measured >= seconds):
                return i
            t0 = time.perf_counter()
            try:
                self.unit(spark, i, spans, diagnostics)
            except Exception:
                self.attempted += 1
                self.failed += 1
                self.notes.append("engine error:\n" + traceback.format_exc())
                return i
            measured += time.perf_counter() - t0

    def begin_pass(self, spark, root: Path) -> None:
        raise NotImplementedError

    def unit(self, spark, i: int, spans: Spans, diagnostics: bool) -> None:
        raise NotImplementedError


# --------------------------------------------------------------------------
class IngestMixed(Workload):
    """gen-0 token index, then cycles of delete / append / BM25 reads.

    A cycle deletes through the instance that served the previous cycle's
    reads, and only then appends and re-opens.  With the append first and
    the delete on the re-opened instance, the second cycle's BM25 calls
    return docs deleted in that cycle: ``deletes.tombstone_segment_blobs``
    persists its blobs per instance and only ``delete_docs`` on that same
    instance unpersists them, so the abandoned instance's cached copy stays
    in Spark's cache, and the new instance's plan-equal read is served
    from it.  That is an engine defect; this order is the one under which
    every read of the cycle sees every delete.
    """

    def __init__(self, cfg, load, seed):
        super().__init__(cfg, load, seed)
        # a fixed count: every cycle grows the index, so a time-based count
        # would average different work
        self.fixed_units = int(cfg["cycles"])
        self.k = int(cfg["k"])
        self.gen0 = generate_corpus_pdf(int(cfg["gen0_docs"]), seed=seed)
        self.text_bytes = int(sum(len(t.encode()) for t in self.gen0["text"]))
        rng = np.random.default_rng(seed)
        base = generate_queries(self.gen0, n=int(cfg["batch_distinct_queries"]),
                                seed=seed)
        n = len(base)
        base.append((n, ["singletonterm0"]))
        plain = base[: int(cfg["batch_distinct_queries"])]
        reps = rng.choice(len(plain), size=int(len(plain)
                          * float(cfg["batch_repeat_frac"])), replace=True)
        self.batch = base + [(len(base) + i, plain[r][1])
                             for i, r in enumerate(reps)]
        # the oracle sample: every edge query plus the first plain ones
        edge = base[len(plain):]
        n_sample = int(cfg["oracle_sample_queries"]) - len(edge)
        self.sample = plain[:n_sample] + edge + self.batch[len(base):][:2]
        self.singles = [plain[j] for j in rng.permutation(len(plain))]

    def slice_pdf(self, g: int) -> pd.DataFrame:
        if g == 0:
            return self.gen0
        pdf = generate_corpus_pdf(int(self.cfg["append_docs"]),
                                  seed=self.seed * 1000 + g)
        pdf["url"] = pdf["url"].str.replace("/page/", f"/gen{g}/", regex=False)
        return pdf

    def corpus_df(self, spark, n=None):
        return spark.createDataFrame(self.gen0.head(n), CORPUS_SCHEMA)

    def setup(self, spark, corpus, root: Path) -> InvertedIndex:
        from full_text_index_spark.build import build_index

        build_index(spark, corpus, str(root),
                    n_segments=int(self.load["n_segments"]), resume=False)
        return InvertedIndex.open(spark, str(root))

    def begin_pass(self, spark, root):
        self.root = root
        self.index = InvertedIndex.open(spark, str(root))
        self.rng = np.random.default_rng(self.seed + 7)
        self.texts: dict[str, str] = dict(zip(self.gen0["url"], self.gen0["text"]))
        self.ids: dict[str, int] = self._ids(0)
        self.deleted: set[int] = set()
        self.batch_df = spark.createDataFrame(self.batch, QUERY_SCHEMA)
        # untimed warm-up of the read path on the gen-0 index: one batch and
        # one single query, as the cycles send them
        from full_text_index_spark.query import bm25_topk

        bm25_topk(self.index, self.batch_df, k=self.k).toPandas()
        qdf = spark.createDataFrame([self.singles[-1]], QUERY_SCHEMA)
        bm25_topk(self.index, qdf, k=self.k).toPandas()

    def _ids(self, g: int) -> dict[str, int]:
        t = pq.read_table(os.path.join(self.root, "doc_stats",
                                       f"generation={g}"),
                          columns=["url", "doc_id"])
        return dict(zip(t.column("url").to_pylist(),
                        t.column("doc_id").to_pylist()))

    def unit(self, spark, i, spans, diagnostics):
        from full_text_index_spark.deletes import delete_docs
        from full_text_index_spark.query import bm25_topk
        from full_text_index_spark.streaming import append_generation

        g = i + 1
        cfg, nseg = self.cfg, int(self.load["n_segments"])
        # the delete goes first, on the instance that has been serving the
        # reads since the last append; see the class docstring
        prev_first = self.slice_pdf(g - 1)["url"].iloc[0]
        live_old = sorted(d for u, d in self.ids.items()
                          if d not in self.deleted and u != prev_first)
        pick = self.rng.choice(len(live_old), size=int(cfg["delete_ids_per_cycle"]) - 1,
                               replace=False)
        dels = [self.ids[prev_first]] + [live_old[j] for j in sorted(pick)]
        before = snapshot(self.root) if diagnostics else None
        with spans.span("deletes.delete_docs", len(dels)) as call:
            delete_docs(self.index, dels)
        if diagnostics:
            call.extra["bytes_written"] = written(before, snapshot(self.root))[1]
        self.deleted.update(dels)

        new = self.slice_pdf(g)
        new_df = spark.createDataFrame(new, CORPUS_SCHEMA)
        before = snapshot(self.root) if diagnostics else None
        with spans.span("streaming.append_generation", len(new)) as call:
            append_generation(spark, new_df, str(self.root), g, n_segments=nseg)
        if diagnostics:
            files, nbytes = written(before, snapshot(self.root))
            call.extra.update(files_written=files, bytes_written=nbytes,
                              text_bytes=sum(len(t.encode()) for t in new["text"]))
        self.index = InvertedIndex.open(spark, str(self.root))
        gids = self._ids(g)
        self.ids.update(gids)
        self.texts.update(zip(new["url"], new["text"]))

        with spans.span("query.bm25_topk", len(self.batch)) as call:
            got = bm25_topk(self.index, self.batch_df, k=self.k).toPandas()
        call.extra["rows"] = len(got)
        n_single = int(cfg["single_queries_per_cycle"])
        singles = [self.singles[(i * n_single + j) % len(self.singles)]
                   for j in range(n_single)]
        got_single = []
        for q in singles:
            qdf = spark.createDataFrame([q], QUERY_SCHEMA)
            with spans.span("query.bm25_topk_single", 1):
                got_single.append(bm25_topk(self.index, qdf, k=self.k).toPandas())

        docs = pd.DataFrame({
            "doc_id": [self.ids[u] for u in self.texts],
            "text": list(self.texts.values()),
        })
        # a single query may repeat a sample query's qid
        queries = dict(self.sample + singles)
        want = oracles.bm25_expected(docs, list(queries.items()),
                                     self.deleted, self.k)
        sample_ids = {q for q, _ in self.sample}
        bad = oracles.compare_bm25(got[got["qid"].isin(sample_ids)],
                                   {q: want[q] for q in sample_ids})
        self.check("bm25 batch", len(self.batch), len(
            bad | oracles.qids_with_deleted(got, self.deleted)))
        for q, g1 in zip(singles, got_single):
            bad = oracles.compare_bm25(g1, {q[0]: want[q[0]]})
            self.check("bm25 single", 1, len(
                bad | oracles.qids_with_deleted(g1, self.deleted)))
        # the append and the delete: checked through the oracle over the
        # union of generations and the no-deleted-doc check above
        self.attempted += 2

    def e2e(self, spans: Spans, setup_walls: list[float]) -> dict:
        writes = spans.of("streaming.") + spans.of("deletes.")
        appended = sum(c.requests for c in spans.of("streaming."))
        batch = [c.wall_s for c in spans.of("query.bm25_topk")
                 if c.op == "query.bm25_topk"]
        single = [c.wall_s for c in spans.of("query.bm25_topk_single")]
        return {
            "write_docs_per_s": (appended / sum(c.wall_s for c in writes),
                                 [c.wall_s for c in writes]),
            "read_requests_per_s": (len(self.batch) / median(batch), batch),
            "read_latency_p50_s": (median(single), single),
        }


# --------------------------------------------------------------------------
class SubstringNatural(Workload):
    """char-3-gram index over id-prefixed docs; count/locate/display/extract
    rounds with per-class pattern sets."""

    CLASSES = ("rare", "head", "short")

    def __init__(self, cfg, load, seed):
        super().__init__(cfg, load, seed)
        n = int(cfg["docs"])
        pdf = generate_corpus_pdf(n, seed=seed)
        ids = np.random.default_rng(seed).choice(10 ** 7, size=n, replace=False)
        pdf["text"] = [f"u{i:07d} " + t for i, t in zip(ids, pdf["text"])]
        self.corpus = pdf
        self.text_bytes = int(sum(len(t.encode()) for t in pdf["text"]))
        rng = np.random.default_rng(seed + 1)
        texts = pdf["text"].tolist()

        def slices(n_pat, length, lo):
            out: list[str] = []
            while len(out) < n_pat:
                t = texts[int(rng.integers(len(texts)))]
                if lo is None:
                    p = t[:length]
                else:
                    a = int(rng.integers(lo, len(t) - length))
                    p = t[a:a + length]
                if p not in out:
                    out.append(p)
            return out

        def absent(p):
            m = len(p) // 2
            return p[:m] + ABSENT_CHAR + p[m + 1:]

        self.patterns = {
            "rare": slices(int(cfg["rare_patterns"]), int(cfg["rare_len"]), None),
            "head": slices(int(cfg["head_patterns"]), int(cfg["head_len"]), 9),
            "short": slices(int(cfg["short_patterns"]), 2, 9),
        }
        for cls in self.CLASSES:  # one absent pattern per class
            self.patterns[cls].append(absent(self.patterns[cls][0]))
        self.display = self.patterns["rare"][: int(cfg["display_patterns"])]
        lengths = cfg["extract_lengths"]
        iv = set()
        while len(iv) < int(cfg["extract_intervals"]):
            r = int(rng.integers(len(texts)))
            a = int(rng.integers(len(texts[r])))
            b = min(a + int(lengths[len(iv) % len(lengths)]) - 1, len(texts[r]) - 1)
            iv.add((pdf["url"].iloc[r], a, b))
        self.intervals = sorted(iv)
        self.texts_by_url = dict(zip(pdf["url"], pdf["text"]))

    def corpus_df(self, spark, n=None):
        return spark.createDataFrame(self.corpus.head(n), CORPUS_SCHEMA)

    def setup(self, spark, corpus, root: Path) -> InvertedIndex:
        from full_text_index_spark.substring import build_gram_index

        build_gram_index(spark, corpus, str(root), k=int(self.cfg["gram_k"]),
                         n_segments=int(self.load["n_segments"]), resume=False)
        return InvertedIndex.open(spark, str(root))

    def begin_pass(self, spark, root):
        self.index = InvertedIndex.open(spark, str(root))
        self.docs_df = spark.read.parquet(os.path.join(root, "docs"))
        t = pq.read_table(os.path.join(root, "docs"), columns=["doc_id", "text"])
        self.texts = dict(zip(t.column("doc_id").to_pylist(),
                              t.column("text").to_pylist()))
        # one interval per extract call: the interactive request
        self.interval_dfs = [spark.createDataFrame(
            [iv], "url string, from_char int, to_char int")
            for iv in self.intervals]
        self.plan_stats: dict[str, dict] = {}

    def unit(self, spark, i, spans, diagnostics):
        from full_text_index_spark.query import extract
        from full_text_index_spark.substring import (
            display_substring,
            substring_count,
            substring_locate,
            substring_locate_short,
        )

        n_extract = count()

        def extract_one() -> None:
            # one-interval extract calls go between the other calls, so
            # that their samples span the round and a short stall of the
            # host reaches few of them
            j = next(n_extract) % len(self.intervals)
            with spans.span("query.extract", 1):
                got = extract(self.docs_df, self.interval_dfs[j]).toPandas()
            self.check("extract", 1, oracles.compare_extract(
                got, self.texts_by_url, [self.intervals[j]]))

        for cls in self.CLASSES:
            pats = self.patterns[cls]
            with spans.span(f"substring.count.{cls}", len(pats)):
                got = substring_count(self.index, pats).toPandas()
            self.check(f"count {cls}", len(pats),
                       oracles.compare_count(got, self.texts, pats))
            extract_one()
            stats = {} if diagnostics and cls != "short" else None
            with spans.span(f"substring.locate.{cls}", len(pats)):
                if cls == "short":
                    got = substring_locate_short(self.index, pats).toPandas()
                else:
                    got = substring_locate(self.index, pats,
                                           stats=stats).toPandas()
            self.check(f"locate {cls}", len(pats),
                       oracles.compare_locate(got, self.texts, pats))
            if stats is not None:
                stats["occurrences"] = len(got)
                self.plan_stats[cls] = stats
            extract_one()
        numc = int(self.cfg["display_numc"])
        with spans.span("substring.display_substring", len(self.display)):
            got = display_substring(self.index, self.docs_df, self.display,
                                    numc=numc).toPandas()
        self.check("display_substring", len(self.display),
                   oracles.compare_display(got, self.texts, self.display, numc))
        extract_one()
        if diagnostics:
            want = {"rare": "rarest", "head": "alljoin"}
            for cls, plan in want.items():
                got_plan = self.plan_stats.get(cls, {}).get("plan")
                self.check(f"plan {cls}", 1, int(got_plan != plan))

    def e2e(self, spans: Spans, setup_walls: list[float]) -> dict:
        reads = spans.of("substring.") + spans.of("query.")
        walls = [c.wall_s for c in reads]
        extracts = [c.wall_s for c in spans.of("query.extract")]
        return {
            "write_docs_per_s": (len(self.corpus) / median(setup_walls),
                                 setup_walls),
            "read_requests_per_s": (sum(c.requests for c in reads)
                                    / sum(walls), walls),
            "read_latency_p50_s": (median(extracts), extracts),
        }


WORKLOADS = {"ingest_mixed": IngestMixed, "substring_natural": SubstringNatural}
