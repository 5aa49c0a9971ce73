"""The workloads. Each drives the engine only through its public API
(``build_index`` / ``refresh_index`` / ``compact_index``,
``SearchEngine.search`` / ``search_batch``) with one closed-loop client:
every call waits for its reply before the next is sent.

search    a 2,000-doc, 2-shard index, one append, then a Zipf-repeating
          stream of reference-shape requests (k=200, snippets), one shape
          cycle per 10 s of ``--seconds``, then ``search_batch`` calls over
          never-seen terms.
maintain  a 200-doc, 1-shard index and two appends, then a fixed query
          set (two each of term, phrase, NOT, NEAR) as one ``search_batch``
          call over the three segments, ``compact_index``, and the same
          queries as requests.

Both issue interactive requests and ``search_batch`` calls and check every
answer against the FTS5 oracle, so each reports every end-to-end metric.
Each run builds its index once. That build is the first engine call of a
fresh session and pays the session's warm-up (about three quarters of its
wall time at these sizes); repeating it for a median would take the time the
requests need.
"""

from __future__ import annotations

import os
import time

from pdfsearch_spark import index_build as ib
from pdfsearch_spark.search import SearchEngine

from . import gate as gate_mod
from . import kernels
from .inputs import CYCLE, QueryMaker, materialize_slices, shape_class, term_dfs

K = 200  # the reference request shape: search(q, k=200, with_snippets=True)
SEARCH_DOCS, SEARCH_SHARDS, SEARCH_STEP, SEARCH_APPENDS = 2_000, 2, 50, 1
# compaction has a large per-(segment, shard, term) cost, so the maintained
# index is small and has few shards
MAINTAIN_DOCS, MAINTAIN_SHARDS, MAINTAIN_STEP, MAINTAIN_APPENDS = 200, 1, 16, 2
# a fixed query set; two queries per class, since on a 200-doc index one
# query's cost depends much on how many docs it happens to hit
MAINTAIN_SET, MAINTAIN_PER_CLASS = ("term", "phrase", "not", "near"), 2
BATCHES, BATCH_PER_SHAPE = 2, 1
# one shape cycle of the stream per this many seconds of --seconds: a fixed
# count rather than a deadline, so a run never holds a partial or an extra
# (warmer) cycle depending on how busy the host is
SECONDS_PER_CYCLE = 10


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class Run:
    """State and measurements of one benchmark run."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, session_s: float, log):
        self.spark, self.tr, self.work, self.log = spark, tracer, work, log
        self.seed, self.seconds = seed, seconds
        self.session_s = session_s
        self.setup_s = None
        self.gate = gate_mod.Gate()
        self.engines = 0
        self.requests: list[dict] = []
        self.batches: list[dict] = []
        self.builds: list[dict] = []
        self.refreshes: list[dict] = []
        self.compacts: list[dict] = []
        self.index_bytes_ratio = None
        self.kernel_metrics: dict[str, float] = {}
        self.kernel_inputs = None  # (corpus path, index dir, queries by class)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def slices(self, bounds: list[int]) -> list[str]:
        paths = materialize_slices(self.path("corpus"), self.seed, bounds)
        self.log(f"corpus of {bounds[-1]} rows stored")
        return paths

    def set_up(self, pages_path: str, index_dir: str, n_shards: int) -> None:
        """Build the base index; ``setup_s`` = session start + this build +
        the first request (``warm_up``)."""
        b = self.build(pages_path, index_dir, n_shards)
        self.setup_s = self.session_s + b["wall"]
        self.log(f"built in {b['wall']:.2f}s")

    def warm_up(self, eng: SearchEngine, q: str) -> None:
        self.setup_s += self.request(eng, "term", q, "warmup")["wall"]

    def engine(self, index_dir: str) -> SearchEngine:
        """A new engine over the index's committed snapshot (an engine is
        bound to one snapshot, and so is its df cache)."""
        self.engines += 1
        return SearchEngine(self.spark, index_dir)

    # ---- timed engine calls --------------------------------------------

    def build(self, pages_path: str, index_dir: str, n_shards: int) -> dict:
        pages = self.spark.read.parquet(pages_path)
        with self.tr.op("build") as sp:
            t0 = time.perf_counter()
            m = ib.build_index(self.spark, pages, index_dir, n_shards=n_shards)
            wall = time.perf_counter() - t0
        rec = {"wall": wall, "n_docs": m["n_docs"], "phase_sec": m["phase_sec"], "op": sp and sp.op}
        self.builds.append(rec)
        return rec

    def refresh(self, pages_path: str, index_dir: str) -> dict:
        pages = self.spark.read.parquet(pages_path)
        with self.tr.op("refresh") as sp:
            t0 = time.perf_counter()
            m = ib.refresh_index(self.spark, pages, index_dir)
            wall = time.perf_counter() - t0
        rec = {"wall": wall, "appended": m["appended_docs"], "op": sp and sp.op}
        self.refreshes.append(rec)
        return rec

    def compact(self, index_dir: str) -> dict:
        with self.tr.op("compact") as sp:
            t0 = time.perf_counter()
            m = ib.compact_index(self.spark, index_dir)
            wall = time.perf_counter() - t0
        epoch = m["epoch"]
        rec = {
            "wall": wall, "op": sp and sp.op,
            "files_before": m["postings_files_before"], "files_after": m["postings_files_after"],
            "bytes_rewritten": dir_bytes(ib.table_dir(index_dir, "postings", epoch))
            + dir_bytes(ib.table_dir(index_dir, "doc_text", epoch)),
        }
        self.compacts.append(rec)
        return rec

    def request(self, eng: SearchEngine, cls: str, q: str, stage: str) -> dict:
        shape = shape_class(cls)
        with self.tr.op("request", cls=cls, shape=shape) as sp:
            t0 = time.perf_counter()
            try:
                pairs = gate_mod.pairs_of(eng.search(q, k=K, with_snippets=True).collect())
            except Exception as exc:  # counted as a failed op, run continues
                pairs, err = None, repr(exc)
            else:
                err = None
            wall = time.perf_counter() - t0
        rec = {"cls": cls, "shape": shape, "q": q, "wall": wall, "pairs": pairs,
               "err": err, "stage": stage, "engine": self.engines, "op": sp and sp.op}
        self.requests.append(rec)
        return rec

    def batch(self, eng: SearchEngine, queries: list[str], stage: str) -> dict:
        with self.tr.op("batch", n=len(queries)) as sp:
            t0 = time.perf_counter()
            try:
                rows = eng.search_batch(queries, k=K).collect()
            except Exception as exc:  # counted as failed ops, run continues
                rows, err = None, repr(exc)
            else:
                err = None
            wall = time.perf_counter() - t0
        per_q = None
        if rows is not None:
            per_q = {i: [] for i in range(len(queries))}
            for r in rows:
                per_q[int(r["query_id"])].append(r)
        rec = {"queries": list(queries), "wall": wall, "per_q": per_q, "err": err,
               "stage": stage, "op": sp and sp.op}
        self.batches.append(rec)
        return rec

    # ---- correctness ---------------------------------------------------

    def load_oracle(self, index_dir: str, segments: list[int] | None = None, fresh=False) -> None:
        self.gate.load(gate_mod.committed_docs(index_dir, segments), fresh=fresh)

    def check(self, index_dir: str, stage: str, rows_fed: int) -> None:
        """Check this stage's answers and the index's doc count against the
        oracle as it is loaded now and the number of corpus rows fed."""
        st = gate_mod.index_stats(index_dir)
        self.gate.check_n_docs(f"{stage}: n_docs", st["n_docs"], rows_fed)
        for r in self.requests:
            if r["stage"] == stage:
                self.gate.check(r["q"], r["pairs"], K, f"{stage} request")
        for b in self.batches:
            if b["stage"] != stage:
                continue
            for i, q in enumerate(b["queries"]):
                got = None if b["per_q"] is None else gate_mod.pairs_of(b["per_q"][i])
                self.gate.check(q, got, K, f"{stage} batch")

    def measure_index_bytes(self, index_dir: str) -> None:
        epoch = int(gate_mod.index_stats(index_dir)["epoch"])
        postings = dir_bytes(ib.table_dir(index_dir, "postings", epoch))
        self.index_bytes_ratio = postings / self.gate.text_bytes

    def kernels(self) -> None:
        """Traced run only: driver-side kernel timings on this workload's
        own corpus and index, after every end-to-end measurement."""
        corpus_path, index_dir, queries = self.kernel_inputs
        dfs, n_docs = term_dfs(index_dir)
        avgdl = float(gate_mod.index_stats(index_dir)["avgdl"])
        general = [q for c in ("phrase", "prefix", "near", "anchor") for q in queries.get(c, [])]
        all_q = [q for qs in queries.values() for q in qs]
        # plus conjunctions of the highest-df words that still have a
        # positive idf (df < N/2): the longest lists block-max WAND can prune
        top = sorted(
            (t for t in dfs if t.isascii() and t.isalpha() and dfs[t] < n_docs / 2),
            key=lambda t: -dfs[t],
        )[:4]
        wand = queries.get("wand", []) + [f"{top[0]} {top[1]}", f"{top[2]} {top[3]}"]
        km = self.kernel_metrics
        km.update(kernels.extract_and_analyzer(corpus_path))
        km.update(kernels.codec(index_dir, avgdl))
        km.update(kernels.parser(all_q))
        km.update(kernels.scorer(index_dir, wand, general, dfs, n_docs, avgdl, K))
        km.update(kernels.snippets(self.gate.oracle.con, all_q[:8], K))


def _maker(run: Run, index_dir: str, salt: int) -> QueryMaker:
    dfs, n_docs = term_dfs(index_dir)
    texts = gate_mod.committed_docs(index_dir)["text"].tolist()
    return QueryMaker(run.seed * 1000 + salt, dfs, n_docs, texts)


def search(run: Run) -> None:
    bounds = [0, SEARCH_DOCS] + [SEARCH_DOCS + (i + 1) * SEARCH_STEP for i in range(SEARCH_APPENDS)]
    base, *steps = run.slices(bounds)
    idx = run.path("search_index")
    run.set_up(base, idx, SEARCH_SHARDS)
    for step in steps:
        run.refresh(step, idx)

    eng = run.engine(idx)
    qm = _maker(run, idx, 2)  # harness work, not the engine's
    warm = qm.make("term")
    stream = qm.stream(max(1, round(run.seconds / SECONDS_PER_CYCLE)) * len(CYCLE))
    fresh = [qm.batch(BATCH_PER_SHAPE) for _ in range(BATCHES)]
    run.warm_up(eng, warm)

    for c, q in stream:
        run.request(eng, c, q, "stream")
    for qs in fresh:
        run.batch(eng, qs, "stream")
    run.log(f"{len(run.requests) - 1} requests, {len(fresh)} batches")

    run.load_oracle(idx)
    run.measure_index_bytes(idx)
    run.check(idx, "stream", bounds[-1])
    run.log("checked")
    by_cls: dict[str, list[str]] = {}
    for r in run.requests:
        if r["stage"] == "stream":
            by_cls.setdefault(r["cls"], []).append(r["q"])
    run.kernel_inputs = (base, idx, by_cls)


def maintain(run: Run) -> None:
    bounds = [0, MAINTAIN_DOCS] + [
        MAINTAIN_DOCS + (i + 1) * MAINTAIN_STEP for i in range(MAINTAIN_APPENDS)
    ]
    base, *steps = run.slices(bounds)
    idx = run.path("maintain_index")
    run.set_up(base, idx, MAINTAIN_SHARDS)
    qm = _maker(run, idx, 3)
    queries = [(c, qm.make(c)) for _ in range(MAINTAIN_PER_CLASS) for c in MAINTAIN_SET]
    run.warm_up(run.engine(idx), qm.make("term"))
    run.load_oracle(idx)

    for i, step in enumerate(steps):
        stage = f"append{i}"
        run.refresh(step, idx)
        if i == len(steps) - 1:
            # the set over every segment, before compaction merges them
            run.batch(run.engine(idx), [q for _, q in queries], stage)
        run.load_oracle(idx, segments=[i + 1])
        run.check(idx, stage, bounds[i + 2])

    run.log("appends " + " ".join(f"{x['wall']:.2f}s" for x in run.refreshes))
    run.log(f"compacting, {run.compact(idx)['wall']:.2f}s")
    eng = run.engine(idx)
    for c, q in queries:
        run.request(eng, c, q, "compacted")
    # the oracle is rebuilt from the compacted doc store itself
    run.load_oracle(idx, fresh=True)
    run.check(idx, "compacted", bounds[-1])
    run.log("checked")
    run.measure_index_bytes(idx)
    run.kernel_inputs = (base, idx, {c: [q] for c, q in queries} | {"wand": [qm.make("wand")]})


WORKLOADS = {"search": search, "maintain": maintain}
