"""Query-side engine: FTS5-grammar search over the sharded index.

``search`` (one query) and ``search_batch`` (many) run one executor,
``match_score``, over a list of parsed queries:

1. Plan (driver). Each query is classified once:
   - a pure conjunction of plain terms runs block-max WAND per shard;
   - any other tree of plain terms (OR / NOT) is scored exhaustively per
     shard. Both use a-priori idfs — dfs come from the postings table's own
     (term, df) columns (``_dfs_of``, cached per engine) — and emit only
     their per-shard top-k;
   - phrase / prefix / NEAR / anchor queries: a phrase's global df is only
     known after matching, so shards emit the matched rows (doc_id, dl,
     visible-tf vector) plus one df-sentinel row.
2. One shard operator. One shard-pruned, term-pruned parquet scan of
   ``postings`` (every query's terms and prefixes pushed down on the sorted
   ``term`` column) feeds one ``groupBy(shard).applyInPandas``, which also
   applies the optional book filter. Past that exchange the work is
   shuffle-free: all of a doc's postings are in its shard.
3. One reduce. When the plan has a sentinel query, its per-shard dfs are
   summed on the driver and one codegen'd BM25 expression scores its
   matched rows; a plan without one issues no sentinel action. The top k of
   each query by (score asc, doc_id asc) reaches the driver:
   TakeOrderedAndProject for one query, a row_number window for several.

``search`` then reads its ≤ k docs from the doc store in one point lookup and
renders snippets driver-side.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .analyzer import tokenize, unicode61_tokens
from .index_build import INDEX_FORMAT, shard_of, table_dir
from .query.parser import Node, Phrase, parse_query
from .query.scorer import (
    K1,
    B,
    bm25_scores,
    idf_of,
    score_shard,
    tree_has_no_near,
    tree_is_pure_and,
    wand_shard_topk,
)

RESULT_SCHEMA = (
    "doc_id long, part int, title string, text string, base_name string, score double"
)
BATCH_SCHEMA = "query_id int, doc_id long, score double, rank int"
# shard-operator rows: pre-scored (score set), matched (vis set, scored in the
# reduce) or a df sentinel (dfs set)
_SHARD_SCHEMA = (
    "query_id int, doc_id long, score double, dl long, vis array<long>, dfs array<long>"
)


class _Planned(NamedTuple):
    qid: int
    tree: Node
    phrases: list[Phrase]
    idfs: np.ndarray | None  # a-priori idfs; None = df-sentinel query
    wand: bool


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        self.spark = spark
        self.index_dir = index_dir
        st = spark.read.parquet(os.path.join(index_dir, "stats")).collect()[0]
        fmt = st.asDict().get("format")
        if fmt != INDEX_FORMAT:
            raise ValueError(
                f"index format {fmt!r} != reader format {INDEX_FORMAT}; rebuild the index"
            )
        self.n_docs = st["n_docs"]
        self.avgdl = st["avgdl"]
        self.n_shards = st["n_shards"]
        # table paths resolve through the stats epoch (compaction's
        # versioned-root commit): this engine is bound to one complete
        # epoch snapshot for its lifetime
        self.epoch = int(st["epoch"])
        self._postings = spark.read.parquet(
            table_dir(index_dir, "postings", self.epoch)
        )
        # The term dictionary is every query's first hop (df lookup). It is
        # the postings table's own (term, df) metadata columns — format 6
        # materializes no separate term_stats table — read pruned: term is
        # the sort key within each postings file, so parquet row-group
        # min/max stats prune In/StartsWith exactly like the scoring scan's
        # predicate. At web scale this is the RIGHT shape too: each
        # executor's dictionary rows live beside its shards (no global
        # vocabulary table to build, ship, or refresh), and the driver sums
        # the ≤ shards×terms returned rows.
        self._dict = self._postings.select("term", "df")
        self._doc_text = spark.read.parquet(
            table_dir(index_dir, "doc_text", self.epoch)
        )
        # Driver-side df cache. An engine is bound to one index snapshot
        # (Spark caches the parquet file listing at first action; a refresh
        # needs a new SearchEngine), so term→df results are immutable for
        # this engine's lifetime — repeated query vocabulary skips the
        # dictionary job entirely. Prefixes are deliberately NOT expanded
        # driver-side: expansion happens per shard against the pruned scan
        # (scorer.score_shard), so `a*` over a web-scale vocabulary never
        # materializes millions of terms on the driver.
        self._df_cache: dict[str, int] = {}

    def _dfs_of(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            # pruned dictionary scan: ≤ shards×segments rows per term come
            # back; global df = their sum (one job, no shuffle — the groupBy
            # happens driver-side over a few hundred ints)
            found: dict[str, int] = {}
            for r in self._dict.filter(F.col("term").isin(missing)).collect():
                found[r["term"]] = found.get(r["term"], 0) + int(r["df"])
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    # ---- planning -----------------------------------------------------

    @staticmethod
    def _parse(queries: list[str]) -> list[tuple[int, Node, list[Phrase]]]:
        """(query_id, tree, phrases) per query; empty queries and queries
        that parse to nothing (e.g. '""') are dropped. Grammar errors raise
        QuerySyntaxError (HTTP 400 in the reference)."""
        parsed = []
        for qid, q in enumerate(queries):
            if q and q.strip():
                tree, phrases = parse_query(q, tokenize, unicode61_tokens)
                if tree is not None:
                    parsed.append((qid, tree, phrases))
        return parsed

    def _plan(self, parsed: list[tuple[int, Node, list[Phrase]]]) -> list[_Planned]:
        """Classify each query once. Plain-term trees without NEAR get
        a-priori idfs from ONE dictionary lookup over all their terms."""
        plain = {qid for qid, tree, phrases in parsed if _plain_terms(tree, phrases)}
        dfs = self._dfs_of(
            sorted({p.terms[0] for qid, _, phrases in parsed if qid in plain for p in phrases})
        )
        plan = []
        for qid, tree, phrases in parsed:
            idfs = None
            if qid in plain:
                idfs = np.array([idf_of(dfs[p.terms[0]], self.n_docs) for p in phrases])
            plan.append(
                _Planned(qid, tree, phrases, idfs, idfs is not None and tree_is_pure_and(tree))
            )
        return plan

    @staticmethod
    def _scan_predicate(phrases: list[Phrase]):
        """(exact terms, prefixes) → pushdown-able postings-scan filter.

        Prefix phrases push ``startswith(pref)`` into the scan itself —
        parquet row-group min/max stats on the sorted ``term`` column prune
        for a StringStartsWith exactly like they do for In, and no term list
        ever lands on the driver."""
        exact: set[str] = set()
        prefixes: set[str] = set()
        for p in phrases:
            if p.col == "unindexed":
                continue
            if p.prefix:
                exact.update(p.terms[:-1])
                prefixes.add(p.terms[-1])
            else:
                exact.update(p.terms)
        if not exact and not prefixes:
            return None
        cond = F.col("term").isin(sorted(exact)) if exact else F.lit(False)
        for pref in sorted(prefixes):
            cond = cond | F.col("term").startswith(pref)
        return cond

    # ---- execution ----------------------------------------------------

    def _shard_op(
        self, plan: list[_Planned], k: int, book_ids: list[int] | None = None
    ) -> DataFrame | None:
        """The one shard operator: every planned query against each shard's
        pruned postings, in one ``applyInPandas`` call per shard. None when
        no query can touch the index (all phrases unindexed)."""
        cond = self._scan_predicate([p for e in plan for p in e.phrases])
        if cond is None:
            return None
        n_docs, avgdl = self.n_docs, self.avgdl
        books = np.array(sorted(book_ids), dtype=np.int64) if book_ids else None

        def rows(qid, doc_ids, score=np.nan, dl=0, vis=None, dfs=None):
            n = len(doc_ids)
            return pd.DataFrame(
                {
                    "query_id": np.full(n, qid, dtype=np.int32),
                    "doc_id": np.asarray(doc_ids, dtype=np.int64),
                    "score": score,
                    "dl": dl,
                    # object dtype even when empty (a float column of no
                    # rows cannot convert to an Arrow list)
                    "vis": pd.Series(vis if vis is not None else [None] * n, dtype=object),
                    "dfs": pd.Series([dfs] * n, dtype=object),
                }
            )

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for qid, tree, phrases, idfs, wand in plan:
                if wand:
                    res = wand_shard_topk(
                        pdf, [p.terms[0] for p in phrases], idfs, avgdl, k, books
                    )
                    if res is not None:
                        outs.append(rows(qid, res[0], score=res[1]))
                    continue
                res = score_shard(pdf, tree, phrases, {}, n_docs, avgdl, None, k)
                if res is None:
                    continue
                matched, mdl, mvis, local_dfs = res
                if books is not None:
                    sel = np.isin(matched, books)
                    matched, mdl, mvis = matched[sel], mdl[sel], mvis[sel]
                if idfs is None:
                    outs.append(rows(qid, matched, dl=mdl, vis=list(mvis)))
                    sentinel = [local_dfs.get(i, 0) for i in range(len(phrases))]
                    outs.append(rows(qid, [0], dfs=sentinel))
                    continue
                scores = bm25_scores(mvis, mdl, idfs, avgdl)
                # tie-deterministic truncation by (score, doc_id) — the same
                # total order as the reduce — so a score plateau crossing
                # the k boundary keeps the same members on every path
                # (tests/test_boundary_ties.py)
                top = np.lexsort((matched, scores))[:k]
                outs.append(rows(qid, matched[top], score=scores[top]))
            return pd.concat(outs, ignore_index=True) if outs else rows(0, [])

        return (
            self._postings.filter(cond)
            .groupBy("shard")
            .applyInPandas(fn, schema=_SHARD_SCHEMA)
        )

    def match_score(
        self,
        parsed: list[tuple[int, Node, list[Phrase]]],
        k: int,
        book_ids: list[int] | None = None,
    ) -> list[tuple[int, int, float]]:
        """The executor: the ≤ k best (query_id, doc_id, score) of each
        parsed query, sorted by (query_id, score, doc_id)."""
        plan = self._plan(parsed)
        out = self._shard_op(plan, k, book_ids)
        if out is None:
            return []
        sentinel = [e for e in plan if e.idfs is None]
        if sentinel:
            # the df reduce and the top-k both read the one match pass
            out = out.persist()
        try:
            scored = out.filter(F.col("dfs").isNull())
            if sentinel:
                # ≤ shards rows per query; global df = their sum
                stats = out.filter(F.col("dfs").isNotNull()).select("query_id", "dfs").collect()
                dfs: dict[int, np.ndarray] = {}
                for r in stats:
                    dfs[r["query_id"]] = dfs.get(r["query_id"], 0) + np.array(r["dfs"])
                idf_map = []
                for e in sentinel:
                    d = dfs.get(e.qid, np.zeros(len(e.phrases), dtype=np.int64))
                    idf_sql = ",".join(f"{idf_of(int(x), self.n_docs)!r}D" for x in d)
                    idf_map.append(f"{e.qid}, array({idf_sql})")
                score_expr = (
                    f"-aggregate(zip_with(vis, map({', '.join(idf_map)})[query_id], "
                    f"(t, f) -> CASE WHEN t > 0 THEN f * t * {K1 + 1.0}D / "
                    f"(t + {K1}D * ({1.0 - B}D + {B}D * dl / {self.avgdl}D)) "
                    f"ELSE 0D END), 0D, (a, x) -> a + x)"
                )
                scored = scored.withColumn("score", F.coalesce("score", F.expr(score_expr)))
            scored = scored.select("query_id", "doc_id", "score")
            if len(plan) == 1:
                top = scored.orderBy("score", "doc_id").limit(k).collect()
            else:
                w = Window.partitionBy("query_id").orderBy("score", "doc_id")
                top = (
                    scored.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .collect()
                )
        finally:
            if sentinel:
                out.unpersist()
        return sorted(
            ((r["query_id"], r["doc_id"], r["score"]) for r in top),
            key=lambda t: (t[0], t[2], t[1]),
        )

    def lookup(self, ids: list[int], with_text: bool) -> dict:
        """≤ k doc-store rows by doc_id in ONE point-lookup job. Literal id +
        shard filters push down to parquet (partition pruning on shard,
        row-group stats pruning on doc_id) — never a join whose other side
        is a full table scan, the plan that dies at 10^12 docs. Without
        ``with_text`` the text chunks are column-pruned away."""
        shards = sorted({shard_of(i, self.n_shards) for i in ids})
        cols = ["doc_id", "base_name"] + (["text"] if with_text else [])
        rows = (
            self._doc_text.filter(F.col("shard").isin(shards) & F.col("doc_id").isin(ids))
            .select(*cols)
            .collect()
        )
        return {r["doc_id"]: r for r in rows}

    def search(
        self,
        query: str,
        k: int = 200,
        book_ids: list[int] | None = None,
        with_snippets: bool = True,
    ) -> DataFrame:
        """Reference /search semantics (database/database.go:179-204):
        raw grammar string; k = LIMIT (reference: 200); ``book_ids`` = the
        intended Q6 doc-subset filter. Raises QuerySyntaxError (→ HTTP 400 in
        the reference). Empty query → empty result (routes/routes.go:108-110).
        """
        parsed = self._parse([query])
        top = self.match_score(parsed, k, book_ids)
        ids = [d for _, d, _ in top]
        docs = self.lookup(ids, with_snippets) if ids else {}
        if with_snippets and ids:
            # snippets are a ≤k-row presentation concern — driver-side, not a
            # cluster stage (the reference computes them per emitted row too)
            _, tree, phrases = parsed[0]
            texts = [docs[i]["text"] if i in docs else "" for i in ids]
            titles, bodies = self._snippet_pair(texts, tree, phrases)
        else:
            titles = bodies = [""] * len(ids)
        out = pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "part": np.zeros(len(ids), dtype=np.int32),
                "title": pd.Series(titles, dtype="object"),
                "text": pd.Series(bodies, dtype="object"),
                "base_name": pd.Series(
                    [docs[i]["base_name"] if i in docs else None for i in ids], dtype="object"
                ),
                "score": pd.Series([s for _, _, s in top], dtype="float64"),
            }
        )
        return _local_frame(self.spark, out, RESULT_SCHEMA)

    def search_batch(self, queries: list[str], k: int = 10) -> DataFrame:
        """Evaluate MANY queries through the same executor as ``search``.

        Returns (query_id int, doc_id long, score double, rank int), rank
        1..k per query by (score asc = best BM25 first, doc_id asc) — the
        same per-query results as ``search`` (rank-identity tested), but all
        driver-side planning collapses to one dictionary lookup and all
        matching/scoring to one pass over postings. Per-query latency on
        Spark is dominated by job-scheduling fixed costs; batching is how a
        query workload actually runs at cluster scale. Empty queries yield
        no rows; grammar errors raise (reference 400 behavior).
        """
        top = pd.DataFrame(
            self.match_score(self._parse(queries), k),
            columns=["query_id", "doc_id", "score"],
        ).astype({"query_id": "int32", "doc_id": "int64", "score": "float64"})
        top["rank"] = (top.groupby("query_id").cumcount() + 1).astype("int32")
        return _local_frame(self.spark, top, BATCH_SCHEMA)

    # ---- snippets ------------------------------------------------------

    def _snippet_pair(self, texts: list[str], tree, phrases) -> tuple[list[str], list[str]]:
        """FTS5 snippet(…,16) titles + snippet(…,60) bodies for ≤k texts,
        computed driver-side (Q7 runs only over emitted rows). Per doc, only
        VISIBLE phrases are highlighted — FTS5's snippet() skips phrases
        whose branch contributes nothing for that row (fuzz-found via
        '(a OR b) AND c OR d': a doc matching a∧d but not c highlights only
        d)."""
        from .query.snippet import make_snippet, phrase_slot_table, snippet_plan

        slots_list, anchored = phrase_slot_table(phrases, {})
        titles: list[str] = []
        bodies: list[str] = []
        for text in texts:
            text = text or ""
            fs, fa, fi = snippet_plan(tree, slots_list, anchored, text)
            titles.append(make_snippet(text, fs, fa, 16, per_phrase=fi))
            bodies.append(make_snippet(text, fs, fa, 60, per_phrase=fi))
        return titles, bodies


def _plain_terms(tree: Node, phrases: list[Phrase]) -> bool:
    """Only plain indexed single terms and no NEAR: every df is known
    before the scan."""
    return tree_has_no_near(tree) and all(
        len(p.terms) == 1 and not p.prefix and not p.anchored and p.col != "unindexed"
        for p in phrases
    )


def _local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: str) -> DataFrame:
    """A driver-built result as a LocalRelation, so collecting it runs no
    Spark job (an EMPTY pandas frame would become an RDD scan that does)."""
    return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False), schema=schema)
