"""Snippet goldens vs the FTS5 oracle (SURVEY.md §5.3-4): byte equality of
snippet(pages, 2, '<b>', '</b>', '...', 16|60) for every (query, result-row)
pair (/root/reference/database/database.go:180-181)."""

from __future__ import annotations

import sqlite3

import pytest

from pdfsearch_spark import corpus
from pdfsearch_spark.analyzer import tokenize, unicode61_tokens
from pdfsearch_spark.fnv import fnv1_64_signed
from pdfsearch_spark.query.parser import parse_query
from pdfsearch_spark.query.snippet import make_snippet, snippet_plan

QUERIES = [
    x["query"]
    for x in corpus.reference_queries()
    if not x["expect_error"] and x["query"]
]


def _phrase_slots(q, oracle):
    tree, phrases = parse_query(q, tokenize, unicode61_tokens)
    slots_list, anchored = [], []
    for p in sorted(phrases, key=lambda p: p.index):
        if p.col == "unindexed":
            slots_list.append([frozenset()])
            anchored.append(False)
            continue
        slots = [frozenset([t]) for t in p.terms]
        if p.prefix:
            vocab = oracle.vocab_terms()["term"].tolist()
            slots[-1] = frozenset(t for t in vocab if t.startswith(p.terms[-1]))
        slots_list.append(slots)
        anchored.append(p.anchored)
    return tree, slots_list, anchored


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: repr(q)[:30])
def test_snippets_byte_identical(q, oracle, corpus_pdf):
    try:
        res = oracle.search(q, k=200)
    except sqlite3.OperationalError:
        pytest.skip("oracle rejects")
    text_by_id = {
        fnv1_64_signed(u): t for u, t in zip(corpus_pdf["url"], corpus_pdf["text"])
    }
    tree, slots_list, anchored = _phrase_slots(q, oracle)
    for r in res:
        t = text_by_id[r.doc_id]
        fs, fa, fi = snippet_plan(tree, slots_list, anchored, t)
        assert make_snippet(t, fs, fa, 16, per_phrase=fi) == r.title, (
            f"q={q!r} doc={r.doc_id} 16-token snippet mismatch"
        )
        assert make_snippet(t, fs, fa, 60, per_phrase=fi) == r.text, (
            f"q={q!r} doc={r.doc_id} 60-token snippet mismatch"
        )


def test_engine_snippets_end_to_end(engine, oracle):
    """Full pipeline: SearchEngine.search(with_snippets=True) rows equal the
    oracle's (title, text, base_name) per doc."""
    for q in ["hypertension", '"renal failure"', "data*"]:
        want = {r.doc_id: (r.title, r.text, r.base_name) for r in oracle.search(q, k=50)}
        got = engine.search(q, k=50, with_snippets=True).collect()
        assert len(got) == len(want)
        for r in got:
            wt, wx, wb = want[r["doc_id"]]
            assert r["title"] == wt, f"q={q!r} doc={r['doc_id']} title"
            assert r["text"] == wx, f"q={q!r} doc={r['doc_id']} text"
            assert r["base_name"] == wb


def test_snippets_tokenize_each_row_once(engine, monkeypatch):
    """A request with snippets tokenizes each returned row once: the
    visibility plan and both windows share that one tokenization."""
    from pdfsearch_spark.query import snippet

    calls = []
    real = snippet.tokenize_spans

    def counting(text):
        calls.append(text)
        return real(text)

    monkeypatch.setattr(snippet, "tokenize_spans", counting)
    for q in ["bogu", "co* OR ceed", '"bogu ceed"', "NEAR(bogu ceed, 8)"]:
        calls.clear()
        rows = engine.search(q, k=50, with_snippets=True).collect()
        assert rows, q
        assert len(calls) == len(rows), q
