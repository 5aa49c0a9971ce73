"""FTS5 correctness gate: every engine answer in a run is checked against
``oracle.FTS5Oracle`` loaded with the doc store as it stands at that point
(built, refreshed or compacted).

Agreement is the tie-aware rank-identity rule of the engine's own bench:
the same number of rows, scores equal pairwise within 1e-9, and the same doc
ids for every score strictly better than the k-th (FTS5 keeps an arbitrary
member of an exact score tie at the k boundary).
"""

from __future__ import annotations

import os
import sqlite3

import pyarrow.dataset as ds

from pdfsearch_spark.index_build import table_dir
from pdfsearch_spark.oracle import FTS5Oracle

EPS = 1e-9


def index_stats(index_dir: str) -> dict:
    return ds.dataset(os.path.join(index_dir, "stats")).to_table().to_pylist()[0]


def committed_docs(index_dir: str, segments: list[int] | None = None):
    """(url, text) of the committed doc store, read straight from parquet
    (no Spark job), optionally only the given segments."""
    st = index_stats(index_dir)
    d = ds.dataset(
        table_dir(index_dir, "doc_text", int(st["epoch"])), partitioning="hive"
    )
    seg = ds.field("segment")
    flt = seg < int(st["n_segments"])
    if segments is not None:
        flt = flt & seg.isin(segments)
    return d.to_table(columns=["url", "text"], filter=flt).to_pandas()


def pairs_of(rows) -> list[tuple[int, float]]:
    return sorted(
        ((int(r["doc_id"]), float(r["score"])) for r in rows), key=lambda p: (p[1], p[0])
    )


class Gate:
    """The oracle for the doc store as it stands now, and a record of every
    check."""

    def __init__(self) -> None:
        self.oracle = None
        self.text_bytes = 0
        self.attempted = 0
        self.mismatches: list[str] = []

    def load(self, pdf, fresh: bool = False) -> None:
        """Add docs to the oracle, or with ``fresh`` replace its docs."""
        if fresh or self.oracle is None:
            self.oracle = FTS5Oracle()
            self.text_bytes = 0
        self.oracle.load(pdf)
        self.text_bytes += sum(len(t.encode("utf-8")) for t in pdf["text"] if t)

    def check_n_docs(self, what: str, engine_n_docs: int, rows_fed: int) -> None:
        """The index's doc count must equal both the oracle's and the number
        of (unique-url) corpus rows fed to the engine."""
        self.attempted += 1
        (n_oracle,) = self.oracle.con.execute("SELECT count(*) FROM pages").fetchone()
        if not int(engine_n_docs) == n_oracle == rows_fed:
            self.mismatches.append(
                f"{what}: engine n_docs {engine_n_docs}, oracle {n_oracle}, rows fed {rows_fed}"
            )

    def check(self, query: str, engine: list[tuple[int, float]] | None, k: int, what: str) -> None:
        """``engine`` = (doc_id, score) pairs, or None if the call raised."""
        self.attempted += 1
        try:
            want = [(r.doc_id, r.score) for r in self.oracle.search(query, k=k)]
        except sqlite3.OperationalError as exc:
            want = exc
        err = _diff(want, engine)
        if err:
            self.mismatches.append(f"{what} {query!r}: {err}")


def _diff(want, got) -> str | None:
    if isinstance(want, Exception) or got is None:
        if isinstance(want, Exception) and got is None:
            return None
        return f"oracle {'error' if isinstance(want, Exception) else 'ok'}, engine {'error' if got is None else 'ok'}"
    if len(want) != len(got):
        return f"oracle {len(want)} rows, engine {len(got)}"
    for i, ((_, ws), (_, gs)) in enumerate(zip(want, got)):
        if abs(ws - gs) >= EPS:
            return f"rank {i}: score {ws} vs {gs}"
    if not want:
        return None
    boundary = want[-1][1]
    w = {d for d, s in want if s < boundary - EPS}
    g = {d for d, s in got if s < boundary - EPS}
    if w != g:
        return f"non-boundary docs differ (oracle-only {sorted(w - g)[:3]}, engine-only {sorted(g - w)[:3]})"
    return None
