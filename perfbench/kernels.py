"""Driver-side kernel timings for the traced run (no Spark).

Each kernel runs on fixed inputs taken from the workload's own stored corpus
and built index, read straight from parquet, and is repeated until it has
run for at least ``MIN_S``; the per-repeat median is reported.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

from pdfsearch_spark.analyzer import tokenize, tokenize_series, unicode61_tokens
from pdfsearch_spark.codec import (
    decode_dls,
    decode_doc_ids,
    decode_positions,
    decode_tfs,
    encode_shard_frame_pre,
)
from pdfsearch_spark.extract import extract_text_series
from pdfsearch_spark.index_build import table_dir
from pdfsearch_spark.query.parser import parse_query
from pdfsearch_spark.query.scorer import idf_of, score_shard, wand_shard_topk
from pdfsearch_spark.query.snippet import make_snippet, phrase_slot_table, snippet_plan

MIN_S = 0.25
HTML_SAMPLE = 200
CODEC_BYTES = 1 << 19  # blob bytes of the codec sample (a term-ordered prefix of one shard)


def _median_time(fn) -> float:
    times = []
    t_end = time.perf_counter() + MIN_S
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _postings(index_dir: str, flt=None) -> pd.DataFrame:
    st = ds.dataset(os.path.join(index_dir, "stats")).to_table().to_pylist()[0]
    d = ds.dataset(table_dir(index_dir, "postings", int(st["epoch"])), partitioning="hive")
    return d.to_table(filter=flt).to_pandas()


def _scan_filter(phrases):
    """Same rows the engine's postings scan keeps for these phrases."""
    exact = {t for p in phrases if p.col != "unindexed" for t in (p.terms[:-1] if p.prefix else p.terms)}
    term = ds.field("term")
    flt = term.isin(sorted(exact)) if exact else None
    for p in phrases:
        if p.prefix and p.col != "unindexed":
            e = pc.starts_with(term, pattern=p.terms[-1])
            flt = e if flt is None else flt | e
    return flt


def extract_and_analyzer(corpus_path: str) -> dict[str, float]:
    html = ds.dataset(corpus_path).head(HTML_SAMPLE, columns=["html"]).to_pandas()["html"]
    texts = extract_text_series(html)
    n_tokens = int(sum(len(t) for t in tokenize_series(texts)))
    return {
        "extract.docs_per_s": len(html) / _median_time(lambda: extract_text_series(html)),
        "analyzer.tokens_per_s": n_tokens / _median_time(lambda: tokenize_series(texts)),
    }


def codec(index_dir: str, avgdl: float) -> dict[str, float]:
    """Decode the posting rows of shard 0 / segment 0 (its first
    ``CODEC_BYTES`` of blobs in term order), then re-encode the decoded
    postings with the shard encoder."""
    rows = _postings(index_dir, (ds.field("shard") == 0) & (ds.field("segment") == 0))
    rows = rows.sort_values("term", ignore_index=True)
    size = sum(rows[c].map(len) for c in ("doc_blob", "tf_blob", "dl_blob", "pos_blob"))
    rows = rows[size.cumsum().shift(fill_value=0) < CODEC_BYTES]
    blobs = [
        (bytes(r.doc_blob), list(r.block_lens), bytes(r.tf_blob), bytes(r.dl_blob), bytes(r.pos_blob), int(r.df))
        for r in rows.itertuples()
    ]
    in_bytes = sum(len(b[0]) + len(b[2]) + len(b[3]) + len(b[4]) for b in blobs)

    def decode():
        return [
            (decode_doc_ids(d, bl), decode_tfs(t), decode_dls(l), decode_positions(p, df))
            for d, bl, t, l, p, df in blobs
        ]

    dec = decode()
    doc_ids = np.concatenate([x[0] for x in dec])
    tfs = np.concatenate([x[1] for x in dec])
    dls = np.concatenate([x[2] for x in dec])
    flat = np.concatenate([p for x in dec for p in x[3]])
    ts = np.concatenate([[0], np.cumsum([len(x[0]) for x in dec])])
    terms = rows["term"].tolist()

    def encode():
        return encode_shard_frame_pre(terms, ts, doc_ids, tfs, dls, (flat, tfs), avgdl)

    out = encode()
    out_bytes = sum(len(b) for c in ("doc_blob", "tf_blob", "dl_blob", "pos_blob") for b in out[c])
    return {
        "codec.decode_mb_per_s": in_bytes / 1e6 / _median_time(decode),
        "codec.encode_mb_per_s": out_bytes / 1e6 / _median_time(encode),
    }


def parser(queries: list[str]) -> dict[str, float]:
    def run():
        for q in queries:
            parse_query(q, tokenize, unicode61_tokens)

    return {"query.parser.us_per_query": 1e6 * _median_time(run) / len(queries)}


def scorer(index_dir: str, wand_queries: list[str], general_queries: list[str],
           dfs: dict[str, int], n_docs: int, avgdl: float, k: int) -> dict[str, float]:
    """Per-shard WAND top-k for head-term conjunctions, and the exhaustive
    match pass (score_shard) for general shapes, over every shard."""
    out: dict[str, float] = {}
    counters: dict = {}
    calls = []
    for q in wand_queries:
        _, phrases = parse_query(q, tokenize, unicode61_tokens)
        terms = [p.terms[0] for p in phrases]
        idfs = np.array([idf_of(dfs.get(t, 0), n_docs) for t in terms])
        for _, pdf in _postings(index_dir, _scan_filter(phrases)).groupby("shard"):
            calls.append((pdf.reset_index(drop=True), terms, idfs))
    if calls:
        for pdf, terms, idfs in calls:
            wand_shard_topk(pdf, terms, idfs, avgdl, k, counters=counters)
        t = _median_time(lambda: [wand_shard_topk(p, t, i, avgdl, k) for p, t, i in calls])
        out["query.scorer.wand_us_per_shard"] = 1e6 * t / len(calls)
        out["query.scorer.wand_blocks_skipped_frac"] = counters.get("blocks_skipped", 0) / max(
            counters.get("blocks_total", 0), 1
        )
    calls = []
    for q in general_queries:
        tree, phrases = parse_query(q, tokenize, unicode61_tokens)
        if tree is None:
            continue
        for _, pdf in _postings(index_dir, _scan_filter(phrases)).groupby("shard"):
            calls.append((pdf.reset_index(drop=True), tree, phrases))
    if calls:
        t = _median_time(
            lambda: [score_shard(p, tr, ph, {}, n_docs, avgdl, None, k) for p, tr, ph in calls]
        )
        out["query.scorer.score_shard_us_per_shard"] = 1e6 * t / len(calls)
    return out


def snippets(oracle_con, queries: list[str], k: int) -> dict[str, float]:
    """make_snippet (title n=16 and body n=60, as a request renders them)
    over the oracle's top-k texts of each query."""
    work = []
    for q in queries:
        tree, phrases = parse_query(q, tokenize, unicode61_tokens)
        if tree is None:
            continue
        slots, anchored = phrase_slot_table(phrases, {})
        texts = [
            r[0]
            for r in oracle_con.execute(
                "SELECT text FROM pages WHERE pages MATCH ? ORDER BY rank LIMIT ?", (q, k)
            )
        ]
        work += [(t,) + snippet_plan(tree, slots, anchored, t) for t in texts]
    if not work:
        return {}

    def run():
        for text, fs, fa, fi in work:
            make_snippet(text, fs, fa, 16, per_phrase=fi)
            make_snippet(text, fs, fa, 60, per_phrase=fi)

    return {"query.snippet.us_per_doc": 1e6 * _median_time(run) / len(work)}
