"""Incremental refresh (segment append) + compaction correctness.

An index built over the older half of the corpus (by warc_ts) then refreshed
with the full corpus must be rank-identical to the FTS5 oracle over the FULL
corpus — across every query shape (WAND conjunctions span segments, phrase /
NEAR positions merge across segments, prefix expansion sees both segments'
vocabularies). Compaction back to one segment must change nothing.

Reference semantics mirrored: re-crawled urls keep their first version
(files.path UNIQUE + DO NOTHING, /root/reference/database/database.go:46,257);
"refresh" in the reference is a rerun (search/serializer.go) — ours appends.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pdfsearch_spark import corpus
from pdfsearch_spark.index_build import build_index, compact_index, refresh_index
from pdfsearch_spark.search import SearchEngine

from conftest import N_DOCS, N_SHARDS

REFRESH_INDEX_DIR = "/tmp/pdfsearch_spark_refresh_index"

# one query per grammar shape (all are in the reference query set)
SHAPES = [
    "hypertension",          # single term (WAND)
    "renal failure",         # conjunction (WAND, multi-segment heap)
    "renal OR failure",      # disjunction (exhaustive fast path)
    "failure NOT renal",     # NOT
    '"renal failure"',       # positional phrase (segment-merged positions)
    "data*",                 # prefix (expansion over merged vocabulary)
    "NEAR(renal failure, 3)",
    "^renal",
]


@pytest.fixture(scope="module")
def refreshed(spark, corpus_pdf):
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    cutoff = corpus_pdf["warc_ts"].quantile(0.5)
    shutil.rmtree(REFRESH_INDEX_DIR, ignore_errors=True)
    build_index(
        spark,
        pages.filter(F.col("warc_ts") <= F.lit(cutoff)),
        REFRESH_INDEX_DIR,
        n_shards=N_SHARDS,
    )
    metrics = refresh_index(spark, pages, REFRESH_INDEX_DIR)
    return metrics


def _stats(spark):
    return spark.read.parquet(REFRESH_INDEX_DIR + "/stats").collect()[0]


def _assert_oracle_identical(spark, oracle, queries, k=50):
    eng = SearchEngine(spark, REFRESH_INDEX_DIR)
    for q in queries:
        o = sorted((r.doc_id, r.score) for r in oracle.search(q, k=k))
        rows = eng.search(q, k=k, with_snippets=False).select("doc_id", "score").collect()
        e = sorted((r["doc_id"], r["score"]) for r in rows)
        assert len(o) == len(e), f"q={q!r}: oracle {len(o)} vs engine {len(e)}"
        for (od, osc), (ed, esc) in zip(o, e):
            assert od == ed, f"q={q!r}: doc {od} != {ed}"
            assert abs(osc - esc) < 1e-9, f"q={q!r} doc {od}: {osc} vs {esc}"


def test_refresh_appended_second_segment(spark, refreshed):
    assert refreshed["appended_docs"] > 0
    assert refreshed["segment"] == 1
    st = _stats(spark)
    assert st["n_segments"] == 2
    assert st["n_docs"] == N_DOCS


def test_refreshed_index_rank_identical(spark, oracle, refreshed):
    _assert_oracle_identical(spark, oracle, SHAPES)


def test_refresh_is_idempotent_noop_when_current(spark, refreshed):
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    again = refresh_index(spark, pages, REFRESH_INDEX_DIR)
    assert again["appended_docs"] == 0
    assert _stats(spark)["n_segments"] == 2


def test_recrawled_url_keeps_first_version(spark, refreshed):
    """A later re-crawl of an existing url must be dropped (DO NOTHING)."""
    pages = corpus.web_pages_df(spark, N_DOCS, partitions=8)
    recrawl = (
        pages.limit(3)
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 400 DAYS"))
        .withColumn("html", F.lit(b"<html><body><p>changed content</p></body></html>"))
    )
    res = refresh_index(spark, recrawl, REFRESH_INDEX_DIR)
    assert res["appended_docs"] == 0
    st = _stats(spark)
    assert st["n_docs"] == N_DOCS
    # watermark unchanged: nothing committed
    assert st["n_segments"] == 2


def test_refresh_after_compact(spark, oracle, refreshed):
    """compact → refresh must reuse segment numbering cleanly (next segment
    is 1 again after compaction resets to a single segment 0) and stay
    rank-identical. Ordered before test_compaction_preserves_results's module
    teardown state by running compact here on a copy."""
    import shutil as _sh

    side = REFRESH_INDEX_DIR + "_cycle"
    _sh.rmtree(side, ignore_errors=True)
    _sh.copytree(REFRESH_INDEX_DIR, side)
    assert compact_index(spark, side)["compacted"] is True
    extra = (
        corpus.web_pages_df(spark, N_DOCS, partitions=8)
        .limit(20)
        .withColumn("url", F.concat(F.lit("http://late.example/"), F.col("url")))
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 900 DAYS"))
    )
    res = refresh_index(spark, extra, side)
    assert res["appended_docs"] == 20
    assert res["segment"] == 1
    st = spark.read.parquet(side + "/stats").collect()[0]
    assert st["n_segments"] == 2 and st["n_docs"] == N_DOCS + 20
    # original docs still searchable, scores now under the shifted avgdl —
    # just assert the engine runs and returns rows for a known query
    eng = SearchEngine(spark, side)
    assert eng.search("renal", k=10, with_snippets=False).count() > 0
    _sh.rmtree(side, ignore_errors=True)


def test_reader_survives_compaction_epoch_gc(spark, oracle, refreshed):
    """GC grace window (VERDICT r3 item 9): an engine constructed BEFORE a
    compaction commit pins the old epoch, whose dirs must survive that
    compaction's GC — the reader keeps answering rank-identically with no
    retry. The old epoch is swept only by the NEXT compaction cycle."""
    import shutil as _sh

    side = REFRESH_INDEX_DIR + "_grace"
    _sh.rmtree(side, ignore_errors=True)
    _sh.copytree(REFRESH_INDEX_DIR, side)

    reader = SearchEngine(spark, side)          # pins epoch 0
    assert reader.epoch == 0
    before = {
        (r["doc_id"], r["score"])
        for r in reader.search("renal failure", k=50, with_snippets=False)
        .select("doc_id", "score").collect()
    }

    assert compact_index(spark, side)["compacted"] is True
    # grace: epoch-0 dirs (the unversioned base) still present post-GC
    for tbl in ("postings", "doc_text"):
        assert os.path.exists(os.path.join(side, tbl)), tbl
        assert os.path.exists(os.path.join(side, f"{tbl}.v1")), tbl
    # the pinned reader still resolves complete files — identical answers,
    # including a query it has never planned before (cold file access)
    after = {
        (r["doc_id"], r["score"])
        for r in reader.search("renal failure", k=50, with_snippets=False)
        .select("doc_id", "score").collect()
    }
    assert after == before
    assert reader.search('"renal failure"', k=20, with_snippets=True).count() > 0
    # a NEW engine binds the new epoch
    assert SearchEngine(spark, side).epoch == 1

    # next cycle: refresh (to make compaction non-trivial) + compact sweeps
    # epoch 0 but keeps epoch 1 as the new grace epoch
    extra = (
        corpus.web_pages_df(spark, N_DOCS, partitions=8)
        .limit(5)
        .withColumn("url", F.concat(F.lit("http://grace.example/"), F.col("url")))
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 900 DAYS"))
    )
    assert refresh_index(spark, extra, side)["appended_docs"] == 5
    res2 = compact_index(spark, side)
    assert res2["compacted"] is True and res2["epoch"] == 2
    for tbl in ("postings", "doc_text"):
        assert not os.path.exists(os.path.join(side, tbl)), tbl
        assert os.path.exists(os.path.join(side, f"{tbl}.v1")), tbl
        assert os.path.exists(os.path.join(side, f"{tbl}.v2")), tbl
    _sh.rmtree(side, ignore_errors=True)


def test_kill_during_compact_never_half_swaps(spark, oracle, refreshed):
    """Crash-safety of the versioned-root commit: a compaction killed at ANY
    point before the stats flip leaves readers on the old epoch's complete
    dirs with identical results; the rerun completes, flips the epoch, and
    GCs the old dirs."""
    import os
    import shutil as _sh

    from pdfsearch_spark import index_build
    from pdfsearch_spark.index_build import table_dir

    side = REFRESH_INDEX_DIR + "_kill"
    _sh.rmtree(side, ignore_errors=True)
    _sh.copytree(REFRESH_INDEX_DIR, side)

    def results():
        eng = SearchEngine(spark, side)
        out = {}
        for q in SHAPES:
            rows = eng.search(q, k=50, with_snippets=False).collect()
            out[q] = sorted((r["doc_id"], round(r["score"], 9)) for r in rows)
        return out

    before = results()

    # kill the job at the commit point: all data dirs for the new epoch are
    # written, stats is not — the worst-case crash instant
    real_write_stats = index_build._write_stats

    def _boom(*a, **k):
        raise RuntimeError("simulated crash before stats commit")

    index_build._write_stats = _boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact_index(spark, side)
    finally:
        index_build._write_stats = real_write_stats

    # readers resolve the old epoch: index is fully usable, results identical
    st = spark.read.parquet(side + "/stats").collect()[0]
    assert int(st["epoch"]) == 0 and int(st["n_segments"]) == 2
    assert results() == before
    # the orphan next-epoch dirs may exist; they are invisible to readers
    assert os.path.exists(table_dir(side, "postings", 0))

    # rerun to completion: epoch flips, results identical; the replaced
    # epoch-0 dirs are KEPT one cycle as the in-flight-reader grace window
    # (test_reader_survives_compaction_epoch_gc covers their later sweep)
    res = compact_index(spark, side)
    assert res["compacted"] is True and res["epoch"] == 1
    st2 = spark.read.parquet(side + "/stats").collect()[0]
    assert int(st2["epoch"]) == 1 and int(st2["n_segments"]) == 1
    assert os.path.exists(table_dir(side, "postings", 1))
    assert os.path.exists(os.path.join(side, "postings"))
    assert os.path.exists(os.path.join(side, "doc_text"))
    assert results() == before
    _sh.rmtree(side, ignore_errors=True)


def _shape_results(spark, index_dir):
    eng = SearchEngine(spark, index_dir)
    out = {}
    for q in SHAPES:
        rows = eng.search(q, k=50, with_snippets=False).collect()
        out[q] = sorted((r["doc_id"], round(r["score"], 9)) for r in rows)
    return out


def test_compaction_skips_uncommitted_segment(spark, oracle, refreshed):
    """A refresh that crashed before its stats commit leaves an orphan
    segment (``segment == n_segments``) on disk. Compaction must not fold
    it into segment 0: stats leave its docs out, so n_docs would stay
    wrong for good — the redo refresh's anti-join would then skip them."""
    from pdfsearch_spark import index_build
    from pdfsearch_spark.index_build import table_dir

    side = REFRESH_INDEX_DIR + "_orphan"
    shutil.rmtree(side, ignore_errors=True)
    shutil.copytree(REFRESH_INDEX_DIR, side)
    before = _shape_results(spark, side)
    n_before = int(spark.read.parquet(side + "/stats").collect()[0]["n_docs"])

    extra = (
        corpus.web_pages_df(spark, N_DOCS, partitions=8)
        .limit(7)
        .withColumn("url", F.concat(F.lit("http://orphan.example/"), F.col("url")))
        .withColumn("warc_ts", F.expr("warc_ts + INTERVAL 900 DAYS"))
    )
    real_write_stats = index_build._write_stats

    def _boom(*a, **k):
        raise RuntimeError("simulated crash before stats commit")

    index_build._write_stats = _boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            refresh_index(spark, extra, side)
    finally:
        index_build._write_stats = real_write_stats
    assert os.path.exists(os.path.join(side, "doc_text", "segment=2"))
    # readers see committed segments only: the orphan adds no matches or df
    assert _shape_results(spark, side) == before

    res = compact_index(spark, side)
    assert res["compacted"] is True
    assert _shape_results(spark, side) == before
    st = spark.read.parquet(side + "/stats").collect()[0]
    assert int(st["n_docs"]) == n_before
    assert spark.read.parquet(table_dir(side, "doc_text", res["epoch"])).count() == n_before

    redo = refresh_index(spark, extra, side)
    assert redo["appended_docs"] == 7
    assert int(spark.read.parquet(side + "/stats").collect()[0]["n_docs"]) == n_before + 7
    shutil.rmtree(side, ignore_errors=True)


def test_compaction_preserves_results(spark, oracle, refreshed):
    from pdfsearch_spark.index_build import table_dir

    res = compact_index(spark, REFRESH_INDEX_DIR)
    assert res["compacted"] is True
    st = _stats(spark)
    assert st["n_segments"] == 1
    assert st["n_docs"] == N_DOCS
    # the rewrite must demonstrably shrink the index: one segment and fewer
    # data files than the segmented layout it replaced
    assert res["segments_before"] == 2 and res["segments_after"] == 1
    assert res["postings_files_after"] < res["postings_files_before"]
    segs = (
        spark.read.parquet(table_dir(REFRESH_INDEX_DIR, "postings", res["epoch"]))
        .select("segment")
        .distinct()
        .collect()
    )
    assert [r["segment"] for r in segs] == [0]
    _assert_oracle_identical(spark, oracle, SHAPES)


def test_compacted_postings_equal_fresh_build(spark, refreshed, index_dir):
    """Compaction encodes through the build's own writer: the compacted
    half-built-then-refreshed index's postings equal a full build's over
    the same docs (same N_DOCS / N_SHARDS, same avgdl) row for row, keyed
    by (shard, term), every column, blobs byte for byte."""
    from pdfsearch_spark.index_build import table_dir

    st = _stats(spark)
    if st["n_segments"] > 1:  # run alone: compact here
        compact_index(spark, REFRESH_INDEX_DIR)
        st = _stats(spark)

    def by_key(path):
        rows = [r.asDict() for r in spark.read.parquet(path).collect()]
        out = {(r["shard"], r["term"]): r for r in rows}
        assert len(out) == len(rows), "more than one row per (shard, term)"
        return out

    got = by_key(table_dir(REFRESH_INDEX_DIR, "postings", int(st["epoch"])))
    want = by_key(table_dir(index_dir, "postings", 0))
    assert got.keys() == want.keys()
    for key, row in want.items():
        diff = [c for c in row if got[key][c] != row[c]]
        assert not diff, f"{key}: columns differ: {diff}"
