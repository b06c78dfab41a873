"""Brute-force answers and comparators for the benchmark's in-run checks.

Nothing here touches Spark: every expected answer is computed in plain
Python from the generated inputs, and every ``compare_*`` reports the
requests whose engine answer differs from it: a count, or for BM25 the set
of failing qids.  A request is one query, one pattern or one interval.
"""

from __future__ import annotations

import math

import pandas as pd

from full_text_index_spark.oracle import bm25_oracle

SCORE_RTOL = 1e-9


def bm25_expected(docs: pd.DataFrame, queries: list[tuple[int, list[str]]],
                  deleted: set[int], k: int) -> dict[int, list[tuple[int, float]]]:
    """Top-k (doc_id, score) per qid over ``docs`` (doc_id, text).

    Scores use every physical doc, deleted ones included (the index keeps
    df/avgdl physical until compaction); deleted docs are then dropped from
    the ranking, which is what a tombstone-masked top-k returns."""
    if len({qid for qid, _ in queries}) != len(queries):
        raise ValueError("bm25_expected: duplicate qids")
    golden = bm25_oracle(docs, queries, k=k + len(deleted))
    out: dict[int, list[tuple[int, float]]] = {qid: [] for qid, _ in queries}
    for qid, grp in golden.sort_values(["qid", "rank"]).groupby("qid"):
        live = [(int(d), float(s)) for d, s in zip(grp["doc_id"], grp["score"])
                if int(d) not in deleted]
        out[int(qid)] = live[:k]
    return out


def compare_bm25(got: pd.DataFrame,
                 expected: dict[int, list[tuple[int, float]]]) -> set[int]:
    """The qids of ``expected`` whose answer in ``got`` (the engine's
    qid, rank, doc_id, score) is not rank-identical with scores within
    SCORE_RTOL."""
    bad = set()
    by_qid = {int(q): g.sort_values("rank") for q, g in got.groupby("qid")}
    for qid, want in expected.items():
        g = by_qid.get(qid)
        have = [] if g is None else list(zip(g["doc_id"].astype(int),
                                             g["score"].astype(float)))
        if [d for d, _ in have] != [d for d, _ in want] or not all(
            math.isclose(hs, ws, rel_tol=SCORE_RTOL)
            for (_, hs), (_, ws) in zip(have, want)
        ):
            bad.add(qid)
    return bad


def qids_with_deleted(got: pd.DataFrame, deleted: set[int]) -> set[int]:
    """The qids whose ranked answer names a deleted doc."""
    hit = got["doc_id"].astype(int).isin(deleted)
    return set(got.loc[hit, "qid"].astype(int))


def find_all(text: str, pattern: str) -> list[int]:
    """Every overlapping occurrence of ``pattern`` as a 1-based position."""
    out, j = [], text.find(pattern)
    while j != -1:
        out.append(j + 1)
        j = text.find(pattern, j + 1)
    return out


def occurrences(texts: dict[int, str],
                patterns: list[str]) -> dict[str, set[tuple[int, int]]]:
    """(doc_id, cpos) of every occurrence of each pattern."""
    return {
        p: {(d, c) for d, t in texts.items() for c in find_all(t, p)}
        for p in patterns
    }


def compare_count(got: pd.DataFrame, texts: dict[int, str],
                  patterns: list[str]) -> int:
    """``got``: (pattern, n_docs_matching, n_occurrences), one row per
    pattern, absent patterns as zeros."""
    occ = occurrences(texts, patterns)
    rows = {r.pattern: (int(r.n_docs_matching), int(r.n_occurrences))
            for r in got.itertuples(index=False)}
    bad = sum(
        rows.get(p) != (len({d for d, _ in occ[p]}), len(occ[p]))
        for p in patterns
    )
    return bad + (len(got) != len(patterns))


def compare_locate(got: pd.DataFrame, texts: dict[int, str],
                   patterns: list[str]) -> int:
    """``got``: (pattern, doc_id, cpos); each occurrence exactly once."""
    occ = occurrences(texts, patterns)
    bad = 0
    for p in patterns:
        g = got[got["pattern"] == p]
        have = list(zip(g["doc_id"].astype(int), g["cpos"].astype(int)))
        bad += len(have) != len(set(have)) or set(have) != occ[p]
    return bad


def compare_display(got: pd.DataFrame, texts: dict[int, str],
                    patterns: list[str], numc: int) -> int:
    """``got``: (pattern, doc_id, occ_idx, cpos, snippet).  Each context
    side clamps on its own: the snippet is text[max(c-numc, 0) :
    c+len(p)+numc] for the 0-based start c, so a left-clamped occurrence
    does not borrow extra right context."""
    bad = 0
    for p in patterns:
        want = {}
        for d, t in texts.items():
            for i, c in enumerate(find_all(t, p), start=1):
                c0 = c - 1
                want[(d, c)] = (i, t[max(c0 - numc, 0):c0 + len(p) + numc])
        g = got[got["pattern"] == p]
        have = {
            (int(r.doc_id), int(r.cpos)): (int(r.occ_idx), r.snippet)
            for r in g.itertuples(index=False)
        }
        bad += len(g) != len(want) or have != want
    return bad


def compare_extract(got: pd.DataFrame, texts_by_url: dict[str, str],
                    intervals: list[tuple[str, int, int]]) -> int:
    """``got``: (url, from_char, to_char, snippet) with 0-based inclusive
    bounds, clipped at the end of the text."""
    have = {(r.url, int(r.from_char), int(r.to_char)): r.snippet
            for r in got.itertuples(index=False)}
    bad = sum(
        have.get((u, a, b)) != texts_by_url[u][a:b + 1]
        for u, a, b in intervals
    )
    return bad + (len(got) != len(intervals))
