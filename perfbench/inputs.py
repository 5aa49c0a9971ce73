"""Seeded inputs: stored corpus tables and query strings.

The engine only ever sees what this module produces: web-page tables
written to parquet before any timing starts, and plain FTS5-grammar query
strings. Everything is a function of the run's ``--seed``.

Corpus rows come from ``corpus.gen_row``, the per-row generator behind
``corpus.web_pages_df`` (Philox keyed by (seed, row)), called in the Spark
driver process and written with pyarrow, so generation starts no Spark job
and is not part of any reported time.

Query terms are drawn by df bucket from the index's own ``(term, df)``
postings columns; phrase, NEAR and anchor queries take adjacent plain words
from the indexed doc text so they have hits.

Two traffic choices are synthetic (the repo has no query log): every shape
class gets the same share of the stream, and the stream's plain terms are
drawn with Zipf weights over each df bucket ranked by df, using the
exponent of the corpus's own word frequencies (``ZIPF_S``).
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pdfsearch_spark import corpus
from pdfsearch_spark.index_build import table_dir

# corpus.py draws its words with p(rank) ∝ rank^-1.1
ZIPF_S = 1.1

FAST = ("term", "and", "or", "not", "wand", "zero")
# One cycle of the interactive stream; every class appears at a fixed share
# so p50/p90 do not depend on which classes the seed happened to favour.
CYCLE = ("term", "phrase", "and", "prefix", "or", "near", "wand", "anchor", "not", "reference", "zero")

_WORD = re.compile(r"^[a-z]{3,12}$")


def shape_class(cls: str) -> str:
    """fast / general, as the engine splits them (plain terms under
    AND/OR/NOT vs phrase / prefix / NEAR / anchor); the mixed reference
    queries count in neither, so the two medians keep a fixed mix."""
    if cls == "reference":
        return cls
    return "fast" if cls in FAST else "general"


def reference_queries() -> list[str]:
    """The non-error entries of the engine's reference query set."""
    return [q["query"] for q in corpus.reference_queries() if not q["expect_error"] and q["query"]]


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])
FILES_PER_TABLE = 8


def materialize_slices(out_dir: str, seed: int, bounds: list[int]) -> list[str]:
    """Stored parquet tables of rows [bounds[j], bounds[j+1]) of the seed's
    corpus, the rows ``corpus.web_pages_df(spark, n, seed)`` would hold."""
    from pdfsearch_spark.extract import extract_text

    paths = []
    for lo, hi in zip(bounds, bounds[1:]):
        pdf = pd.DataFrame([corpus.gen_row(i, seed) for i in range(lo, hi)])
        pdf["text"] = [
            extract_text(h) if pre else None for h, pre in zip(pdf["html"], pdf["_pre_extract"])
        ]
        table = pa.Table.from_pandas(pdf[PAGES_SCHEMA.names], schema=PAGES_SCHEMA, preserve_index=False)
        path = os.path.join(out_dir, f"rows{lo}-{hi}")
        os.makedirs(path)
        step = -(-len(table) // FILES_PER_TABLE)
        for j in range(0, len(table), step):
            pq.write_table(table.slice(j, step), os.path.join(path, f"part-{j // step:05d}.parquet"))
        paths.append(path)
    return paths


def term_dfs(index_dir: str) -> tuple[dict[str, int], int]:
    """Global df per term from the index's own postings (term, df) columns,
    and the committed doc count."""
    st = ds.dataset(os.path.join(index_dir, "stats")).to_table().to_pylist()[0]
    t = ds.dataset(
        table_dir(index_dir, "postings", int(st["epoch"])), partitioning="hive"
    ).to_table(columns=["term", "df"]).to_pandas()
    return t.groupby("term")["df"].sum().to_dict(), int(st["n_docs"])


class QueryMaker:
    """Seeded query strings over one index.

    Plain terms come from df buckets of the index's dictionary: ``head``
    (df ≥ 10% of docs, the WAND conjunctions), ``mid`` (1–10%, and at least
    5 docs) and ``low`` (at least 2 docs, below ``mid``). Stream queries (``hot=True``) draw their
    plain terms with Zipf weights over the bucket ranked by df, so terms
    repeat and hit the engine's df cache; every other query takes words
    never handed out before, so its dictionary lookups miss.
    """

    MIN_BUCKET = 20

    def __init__(self, seed: int, dfs: dict[str, int], n_docs: int, texts: list[str]) -> None:
        self.rng = np.random.Generator(np.random.Philox(key=[seed, 0x5EA4C4]))
        words = sorted((t for t in dfs if _WORD.match(t)), key=lambda t: (-dfs[t], t))
        head, mid = 0.10 * n_docs, max(0.01 * n_docs, 5)
        self.buckets = {
            "head": [t for t in words if dfs[t] >= head],
            "mid": [t for t in words if mid <= dfs[t] < head],
            "low": [t for t in words if 2 <= dfs[t] < mid],
        }
        if not all(len(v) >= self.MIN_BUCKET for v in self.buckets.values()):
            raise ValueError(f"df buckets too small: { {k: len(v) for k, v in self.buckets.items()} }")
        self.zipf_p = {}
        for b, pool in self.buckets.items():
            w = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_S
            self.zipf_p[b] = w / w.sum()
        self.dict_terms = set(dfs)
        self.texts = texts
        self.used: set[str] = set()
        refs = reference_queries()
        self.refs = [refs[i] for i in self.rng.permutation(len(refs))]

    def _pick(self, pool: list[str]) -> str:
        for _ in range(200):
            w = pool[int(self.rng.integers(len(pool)))]
            if w not in self.used:
                self.used.add(w)
                return w
        raise ValueError("query generator ran out of unused words")

    def _terms(self, hot: bool, *buckets: str) -> list[str]:
        """One plain term per bucket, all distinct."""
        while True:
            if hot:
                out = [
                    self.buckets[b][int(self.rng.choice(len(self.buckets[b]), p=self.zipf_p[b]))]
                    for b in buckets
                ]
            else:
                out = [self._pick(self.buckets[b]) for b in buckets]
            if len(set(out)) == len(out):
                self.used.update(out)
                return out

    def _run_of_words(self, n: int, span: int = 1) -> list[str]:
        """``n`` plain words, each within ``span`` tokens of the previous,
        taken from one randomly chosen doc text."""
        for _ in range(500):
            toks = self.texts[int(self.rng.integers(len(self.texts)))].split()
            if len(toks) < n * span + 1:
                continue
            i = int(self.rng.integers(len(toks) - n * span))
            picked = [toks[i + j * span].lower() for j in range(n)]
            if all(_WORD.match(w) and w not in self.used for w in picked):
                self.used.update(picked)
                return picked
        raise ValueError("query generator found no usable word run")

    def make(self, cls: str, hot: bool = False) -> str:
        if cls == "term":
            return self._terms(hot, "mid")[0]
        if cls == "and":
            return "{} {}".format(*self._terms(hot, "mid", "low"))
        if cls == "or":
            return "{} OR {}".format(*self._terms(hot, "mid", "low"))
        if cls == "not":
            return "{} NOT {}".format(*self._terms(hot, "head", "mid"))
        if cls == "wand":
            return "{} {}".format(*self._terms(hot, "head", "head"))
        if cls == "zero":
            while True:
                w = "zq" + "".join(self.rng.choice(list("bcdfghjklmnpvwx"), size=6))
                if w not in self.dict_terms and w not in self.used:
                    self.used.add(w)
                    return w
        if cls == "prefix":
            return self._pick(self.buckets["mid"])[:4] + "*"
        if cls == "phrase":
            return '"' + " ".join(self._run_of_words(2)) + '"'
        if cls == "near":
            a, c = self._run_of_words(2, span=3)
            return f"NEAR({a} {c}, 5)"
        if cls == "anchor":
            for _ in range(500):
                toks = self.texts[int(self.rng.integers(len(self.texts)))].split()
                if toks and _WORD.match(toks[0].lower()):
                    return "^" + toks[0].lower()
            raise ValueError("query generator found no usable first word")
        raise ValueError(f"unknown query class {cls!r}")

    def batch(self, per_shape: int = 2) -> list[str]:
        """Never-seen queries, ``per_shape`` of every generated shape."""
        return [self.make(c) for _ in range(per_shape) for c in CYCLE if c != "reference"]

    def stream(self, n: int) -> list[tuple[str, str]]:
        """``n`` (class, query) requests, classes in CYCLE order; plain
        terms repeat with Zipf weights, reference queries in seeded order."""
        out = []
        for i in range(n):
            cls = CYCLE[i % len(CYCLE)]
            if cls == "reference":
                q = self.refs[(i // len(CYCLE)) % len(self.refs)]
            else:
                q = self.make(cls, hot=True)
            out.append((cls, q))
        return out
