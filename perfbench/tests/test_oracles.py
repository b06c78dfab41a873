"""The in-run comparators accept the brute-force answer and report every
deliberately wrong one."""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import oracles

DOCS = pd.DataFrame({
    "doc_id": [3, 7, 11, 20],
    "text": ["alpha beta beta", "beta gamma", "alpha alpha gamma delta",
             "delta beta"],
})
QUERIES = [(0, ["beta"]), (1, ["alpha", "gamma"]), (2, ["absentterm"])]


def _as_engine(expected):
    return pd.DataFrame(
        [(q, r, d, s) for q, rows in expected.items()
         for r, (d, s) in enumerate(rows, start=1)],
        columns=["qid", "rank", "doc_id", "score"],
    )


def test_bm25_refuses_duplicate_qids():
    # a repeated qid would list its expected rows twice
    with pytest.raises(ValueError):
        oracles.bm25_expected(DOCS, QUERIES + QUERIES[:1], set(), k=10)


def test_bm25_correct_answer_passes():
    want = oracles.bm25_expected(DOCS, QUERIES, set(), k=10)
    assert want[2] == []
    assert oracles.compare_bm25(_as_engine(want), want) == set()


def test_bm25_wrong_answers_fail():
    want = oracles.bm25_expected(DOCS, QUERIES, set(), k=10)
    got = _as_engine(want)
    swapped = got.copy()
    first = swapped.index[swapped["qid"] == 0][:2]
    swapped.loc[first, "doc_id"] = swapped.loc[first[::-1], "doc_id"].to_numpy()
    assert oracles.compare_bm25(swapped, want) == {0}
    off = got.copy()
    off.loc[off["qid"] == 1, "score"] *= 1 + 1e-7
    assert oracles.compare_bm25(off, want) == {1}
    assert oracles.compare_bm25(got[got["qid"] != 1], want) == {1}


def test_bm25_deleted_docs_drop_out_but_keep_physical_stats():
    full = oracles.bm25_expected(DOCS, QUERIES, set(), k=10)
    top = full[0][0][0]
    masked = oracles.bm25_expected(DOCS, QUERIES, {top}, k=10)
    assert masked[0] == full[0][1:]
    holding = {q for q, rows in full.items() if top in [d for d, _ in rows]}
    got = _as_engine(full)
    assert 0 in holding
    assert oracles.qids_with_deleted(got, {top}) == holding
    assert oracles.compare_bm25(got, masked) == holding


TEXTS = {1: "abcabcab", 2: "xxabc", 3: "aaaa"}


def test_locate_and_count():
    pats = ["abc", "aa", "zz"]
    rows = [(p, d, c) for p in pats for d, t in TEXTS.items()
            for c in oracles.find_all(t, p)]
    got = pd.DataFrame(rows, columns=["pattern", "doc_id", "cpos"])
    assert oracles.find_all("aaaa", "aa") == [1, 2, 3]  # overlapping
    assert oracles.compare_locate(got, TEXTS, pats) == 0
    assert oracles.compare_locate(got.iloc[1:], TEXTS, pats) == 1
    assert oracles.compare_locate(pd.concat([got, got.iloc[:1]]), TEXTS,
                                  pats) == 1
    counts = pd.DataFrame([("abc", 2, 3), ("aa", 1, 3), ("zz", 0, 0)],
                          columns=["pattern", "n_docs_matching",
                                   "n_occurrences"])
    assert oracles.compare_count(counts, TEXTS, pats) == 0
    wrong = counts.copy()
    wrong.loc[1, "n_occurrences"] = 2  # non-overlapping count
    assert oracles.compare_count(wrong, TEXTS, pats) == 1
    assert oracles.compare_count(counts.iloc[:2], TEXTS, pats) >= 1


def test_display_keeps_per_side_clamp():
    texts = {5: "hello world"}
    # "he" at cpos 1, numc 3: left side clamps at the start, right side
    # still stops at cpos + len + numc - 1 = 5 -> "hello"
    good = pd.DataFrame([("he", 5, 1, 1, "hello")],
                        columns=["pattern", "doc_id", "occ_idx", "cpos",
                                 "snippet"])
    assert oracles.compare_display(good, texts, ["he"], numc=3) == 0
    borrowed = good.assign(snippet="hello w")  # fixed-width window
    assert oracles.compare_display(borrowed, texts, ["he"], numc=3) == 1
    assert oracles.compare_display(good.assign(occ_idx=2), texts, ["he"],
                                   numc=3) == 1


def test_extract_slices():
    texts = {"u1": "0123456789"}
    iv = [("u1", 2, 4), ("u1", 8, 9)]
    good = pd.DataFrame([("u1", 2, 4, "234"), ("u1", 8, 9, "89")],
                        columns=["url", "from_char", "to_char", "snippet"])
    assert oracles.compare_extract(good, texts, iv) == 0
    bad = good.assign(snippet=["23", "89"])
    assert oracles.compare_extract(bad, texts, iv) == 1
