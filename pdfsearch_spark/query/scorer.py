"""Per-shard BM25 match + score engine (runs inside applyInPandas).

Scoring model, probe-verified against FTS5 (scripts/dev_probe_fts5.py,
SURVEY.md §2.5 Q2):

  score(doc) = − Σ_phrases idf_p · tf_vis·(k1+1) / (tf_vis + k1·(1−b+b·dl/avgdl))
  idf_p = ln((N − df_p + 0.5)/(df_p + 0.5)), clamped to 1e-6 when ≤ 0
  k1 = 1.2, b = 0.75; N and avgdl include zero-token docs

- df_p is the phrase's GLOBAL, modifier-aware doc frequency: plain terms use
  the postings-derived dictionary; multi-term phrases / prefixes / anchored phrases count docs
  with ≥1 instance of the phrase alone (independent of the boolean tree).
- tf_vis = instances visible under the matched tree: an OR branch that
  doesn't match contributes 0; NOT-excluded branches contribute nothing;
  anchored phrases count only position-0 instances.

Execution: shard-local and shuffle-free — every term's postings for a doc
live in the doc's shard, so boolean evaluation and scoring complete within
the shard; only per-shard top-k rows (plus tiny df sentinel rows) leave.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..codec import decode_dls, decode_doc_ids, decode_tfs
from .parser import Node, Phrase

K1 = 1.2
B = 0.75


class LazyPositions:
    """Block-lazy position resolver for one term's (possibly multi-segment)
    merged posting order. ``fetch(idxs)`` decodes ONLY the 128-doc blocks
    holding the requested merged indexes (cached) — a phrase intersection
    touches a handful of blocks, not the term's whole position stream."""

    __slots__ = ("parts", "bounds", "order", "_cache")

    def __init__(self, parts: list[dict], order: np.ndarray | None) -> None:
        self.parts = parts
        self.bounds = np.cumsum([0] + [p["n"] for p in parts])
        self.order = order  # merged idx -> concatenated idx; None = identity
        self._cache: dict[tuple[int, int], list[np.ndarray]] = {}

    def fetch(self, idxs) -> list[np.ndarray]:
        from ..codec import decode_block_positions

        out: list[np.ndarray] = []
        for i in idxs:
            orig = int(self.order[i]) if self.order is not None else int(i)
            pi = int(np.searchsorted(self.bounds, orig, side="right")) - 1
            local = orig - int(self.bounds[pi])
            part = self.parts[pi]
            cum = part["cum"]
            b = int(np.searchsorted(cum, local, side="right"))
            bstart = int(cum[b - 1]) if b > 0 else 0
            key = (pi, b)
            blk = self._cache.get(key)
            if blk is None:
                offs = part["pos_offs"]
                end = int(offs[b + 1]) if b + 1 < len(offs) else len(part["pos_blob"])
                blk = decode_block_positions(
                    part["pos_blob"], int(offs[b]), end, int(part["block_lens"][b])
                )
                self._cache[key] = blk
            out.append(blk[local - bstart])
        return out

    def fetch_all(self, n: int) -> list[np.ndarray]:
        return self.fetch(range(n))


@dataclass
class TermPostings:
    doc_ids: np.ndarray  # int64 sorted
    tfs: np.ndarray
    dls: np.ndarray
    positions: list[np.ndarray] | None  # eager (merged) positions, if any
    lazy: LazyPositions | None = None  # block-lazy resolver, if positional


class ShardIndex:
    """Decoded postings for the query's terms within one shard.

    A term may span several SEGMENTS (incremental refresh appends one posting
    row per (segment, term, shard)); segments partition the doc space, so the
    merge is a concat + sort by doc id with no duplicates.

    ``pos_terms``: decode the position stream ONLY for these terms — plain
    terms that merely AND/OR with a phrase never pay the (dominant) position
    decode; positions live in a separate stream exactly for this
    (SURVEY.md §7.8-4)."""

    def __init__(self, posting_rows, pos_terms: frozenset | set) -> None:
        parts: dict[str, list[tuple[TermPostings, dict | None]]] = {}
        for r in posting_rows.itertuples():
            doc_ids = decode_doc_ids(bytes(r.doc_blob), list(r.block_lens))
            tfs = decode_tfs(bytes(r.tf_blob))
            dls = decode_dls(bytes(r.dl_blob))
            lazy_part = None
            if r.term in pos_terms:
                block_lens = np.asarray(r.block_lens, dtype=np.int64)
                lazy_part = {
                    "pos_blob": bytes(r.pos_blob),
                    "pos_offs": np.asarray(r.pos_offs, dtype=np.int64),
                    "block_lens": block_lens,
                    "cum": np.cumsum(block_lens),
                    "n": len(doc_ids),
                }
            parts.setdefault(r.term, []).append(
                (TermPostings(doc_ids, tfs, dls, None), lazy_part)
            )
        self.terms: dict[str, TermPostings] = {}
        for term, tps in parts.items():
            if len(tps) == 1:
                tp, lp = tps[0]
                if lp is not None:
                    tp.lazy = LazyPositions([lp], None)
                self.terms[term] = tp
                continue
            doc_ids = np.concatenate([t.doc_ids for t, _ in tps])
            order = np.argsort(doc_ids, kind="stable")
            lazy = None
            if term in pos_terms:
                lazy = LazyPositions([lp for _, lp in tps], order)
            self.terms[term] = TermPostings(
                doc_ids[order],
                np.concatenate([t.tfs for t, _ in tps])[order],
                np.concatenate([t.dls for t, _ in tps])[order],
                None,
                lazy,
            )

    def get(self, term: str) -> TermPostings | None:
        return self.terms.get(term)


@dataclass
class PhraseHits:
    """Per-shard instance data for one phrase: sorted doc ids, visible
    instance counts, dl per doc, and (optional) instance start positions.
    ``lazy`` defers position decode for single-term phrases under NEAR —
    _near_eval fetches only the blocks of docs where every NEAR phrase is
    present."""

    doc_ids: np.ndarray
    counts: np.ndarray
    dls: np.ndarray
    positions: list[np.ndarray] | None  # start positions per doc
    lazy: "LazyPositions | None" = None

    @staticmethod
    def empty() -> "PhraseHits":
        z = np.zeros(0, dtype=np.int64)
        return PhraseHits(z, z.copy(), z.copy(), [])


def _union_positions(arrs: list[np.ndarray]) -> np.ndarray:
    if len(arrs) == 1:
        return arrs[0]
    return np.unique(np.concatenate(arrs))


def phrase_hits(
    idx: ShardIndex,
    phrase: Phrase,
    expansions: dict[int, list[str]],
    need_positions: bool,
) -> PhraseHits:
    """Instances of one phrase in one shard (modifier-aware, tree-independent)."""
    if phrase.col == "unindexed":
        return PhraseHits.empty()

    base_terms = phrase.terms
    if phrase.prefix:
        exp = expansions.get(phrase.index, [])
        if not exp:
            return PhraseHits.empty()
        # prefix occupies the LAST slot of the phrase; preceding terms exact
        prefix_terms = exp
        exact_terms = base_terms[:-1]
    else:
        prefix_terms = None
        exact_terms = base_terms

    # resolve postings, fail fast on missing exact terms
    plists: list[TermPostings | list[TermPostings]] = []
    for t in exact_terms:
        tp = idx.get(t)
        if tp is None:
            return PhraseHits.empty()
        plists.append(tp)
    if prefix_terms is not None:
        tps = [idx.get(t) for t in prefix_terms]
        tps = [t for t in tps if t is not None]
        if not tps:
            return PhraseHits.empty()
        plists.append(tps)

    simple = len(plists) == 1 and prefix_terms is None and not phrase.anchored
    if simple:
        tp = plists[0]
        if need_positions and tp.lazy is not None:
            # defer: only a NEAR evaluation consumes these, and it knows the
            # candidate set — let it fetch just those docs' blocks
            return PhraseHits(tp.doc_ids, tp.tfs.copy(), tp.dls, None, tp.lazy)
        pos = tp.positions if need_positions else None
        return PhraseHits(tp.doc_ids, tp.tfs.copy(), tp.dls, pos)

    # Merge the prefix slot into a virtual term: union docs; per doc union
    # positions / sum tfs. Plain-term slots stay as TermPostings so the
    # positional branch below can fetch their position blocks lazily for
    # the intersection docs only.
    def slot_data(slot):
        if isinstance(slot, TermPostings):
            return slot.doc_ids, slot.tfs, slot.dls, slot
        # list of TermPostings (prefix expansion union)
        all_docs = _union_positions([s.doc_ids for s in slot])
        tfs = np.zeros(len(all_docs), dtype=np.int64)
        dls = np.zeros(len(all_docs), dtype=np.int64)
        # expansion terms carry positions only when the phrase needs them
        # (score_shard's pos_terms); without them there is nothing to union
        pos: list[list[np.ndarray]] | None = None
        if any(s.lazy is not None or s.positions is not None for s in slot):
            pos = [[] for _ in range(len(all_docs))]
        for s in slot:
            loc = np.searchsorted(all_docs, s.doc_ids)
            tfs[loc] += s.tfs
            dls[loc] = s.dls
            if pos is None:
                continue
            s_pos = (
                s.lazy.fetch_all(len(s.doc_ids)) if s.lazy is not None else s.positions
            )
            if s_pos is not None:
                for j, l in enumerate(loc):
                    pos[l].append(s_pos[j])
        if pos is None:
            return all_docs, tfs, dls, None
        merged_pos = [
            _union_positions(p) if p else np.zeros(0, dtype=np.int64) for p in pos
        ]
        return all_docs, tfs, dls, merged_pos

    slots = [slot_data(s) for s in plists]

    single_slot = len(slots) == 1
    if single_slot and not phrase.anchored:
        docs, tfs, dls, pos = slots[0]
        return PhraseHits(docs, tfs, dls, pos if need_positions else None)

    # positional evaluation needed (multi-term adjacency and/or anchor):
    # positions are fetched ONLY for the doc-id intersection — block-lazy
    # for plain-term slots, so a phrase over two huge posting lists decodes
    # a handful of position blocks instead of both whole streams
    docs_common = slots[0][0]
    for s in slots[1:]:
        docs_common = np.intersect1d(docs_common, s[0], assume_unique=True)
    if len(docs_common) == 0:
        return PhraseHits.empty()

    locs = [np.searchsorted(s[0], docs_common) for s in slots]
    slot_pos: list[list[np.ndarray]] = []
    for si, s in enumerate(slots):
        prov = s[3]
        if isinstance(prov, TermPostings):
            slot_pos.append(
                prov.lazy.fetch(locs[si])
                if prov.lazy is not None
                else [prov.positions[j] for j in locs[si]]
            )
        else:
            slot_pos.append([prov[j] for j in locs[si]])

    out_docs, out_counts, out_dls, out_pos = [], [], [], []
    for ci, doc in enumerate(docs_common):
        inter = slot_pos[0][ci]
        ok = True
        for si in range(1, len(slots)):
            p = slot_pos[si][ci]
            inter = np.intersect1d(inter, p - si, assume_unique=True)
            if len(inter) == 0:
                ok = False
                break
        if not ok:
            continue
        if phrase.anchored:
            inter = inter[inter == 0]
            if len(inter) == 0:
                continue
        out_docs.append(doc)
        out_counts.append(len(inter))
        out_dls.append(slots[0][2][locs[0][ci]])
        out_pos.append(inter)
    if not out_docs:
        return PhraseHits.empty()
    return PhraseHits(
        np.array(out_docs, dtype=np.int64),
        np.array(out_counts, dtype=np.int64),
        np.array(out_dls, dtype=np.int64),
        out_pos,
    )


def _near_eval(
    hits: list[PhraseHits],
    cand: np.ndarray,
    locs: list[np.ndarray],
    present: list[np.ndarray],
    phrase_lens: list[int],
    near_n: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-candidate NEAR evaluation.

    Probe-verified semantics (scripts/dev_probe_fts5.py + micro-probe): a doc
    matches if there exists one instance per phrase with ≤ near_n tokens
    between the two furthest-apart instances, and the visible tf of each
    phrase counts ONLY instances that participate in at least one valid
    combination. Exact pairwise rule for 2 phrases; bounded brute force for
    k>2 (falls back to all-instances when the combination count explodes —
    FTS5 queries with >2 NEAR phrases and huge tfs are pathological).

    Returns (mask, counts[len(cand) × n_phrases_in_near]).
    """
    k = len(hits)
    mask = np.zeros(len(cand), dtype=bool)
    counts = np.zeros((len(cand), k), dtype=np.int64)
    # prefetch deferred positions for the candidate rows only (docs where
    # EVERY NEAR phrase is present) — block-lazy decode, see PhraseHits.lazy
    all_present = np.logical_and.reduce(present) if present else np.zeros(0, bool)
    cand_rows = np.flatnonzero(all_present)
    pos_by_phrase: list[list] = []
    for j, h in enumerate(hits):
        if h.positions is None and h.lazy is not None:
            fetched = h.lazy.fetch(locs[j][cand_rows])
            plist: list = [None] * (len(h.doc_ids) or 1)
            for r, arr in zip(locs[j][cand_rows], fetched):
                plist[r] = arr
            pos_by_phrase.append(plist)
        else:
            pos_by_phrase.append(h.positions)
    for i in range(len(cand)):
        if not all(p[i] for p in present):
            continue
        spans = []
        for j, h in enumerate(hits):
            starts = np.asarray(pos_by_phrase[j][locs[j][i]], dtype=np.int64)
            ends = starts + (phrase_lens[j] - 1)
            spans.append((starts, ends))
        surviving = near_surviving(spans, near_n)
        if any(s.any() for s in surviving):
            mask[i] = True
            for j in range(k):
                counts[i, j] = int(surviving[j].sum())
    return mask, counts


def near_surviving(
    spans: list[tuple[np.ndarray, np.ndarray]], near_n: int
) -> list[np.ndarray]:
    """Per phrase: boolean mask of instances participating in >=1 valid NEAR
    combination (the instances FTS5 counts for bm25 AND highlights in
    snippets). Exact pairwise rule for 2 phrases; bounded brute force for
    k>2, falling back to all-instances when the combination count explodes."""
    k = len(spans)
    sizes = [len(s[0]) for s in spans]
    if k == 2:
        s0, e0 = spans[0]
        s1, e1 = spans[1]
        # gap(a,b): tokens strictly between the two spans (0 if overlap)
        gap = np.where(
            s1[None, :] > e0[:, None],
            s1[None, :] - e0[:, None] - 1,
            np.where(s0[:, None] > e1[None, :], s0[:, None] - e1[None, :] - 1, 0),
        )
        ok_pairs = gap <= near_n
        return [ok_pairs.any(axis=1), ok_pairs.any(axis=0)]
    total = 1
    for s_ in sizes:
        total *= s_
    if total > 20000:
        return [np.ones(s_, dtype=bool) for s_ in sizes]
    import itertools

    surviving = [np.zeros(s_, dtype=bool) for s_ in sizes]
    for combo in itertools.product(*(range(s_) for s_ in sizes)):
        max_s = max(spans[j][0][c] for j, c in enumerate(combo))
        min_e = min(spans[j][1][c] for j, c in enumerate(combo))
        if max(0, max_s - min_e - 1) <= near_n:
            for j, c in enumerate(combo):
                surviving[j][c] = True
    return surviving


def evaluate(
    node: Node,
    hits_by_phrase: dict[int, PhraseHits],
    cand: np.ndarray,
    tf_matrix: np.ndarray,
    present: dict[int, np.ndarray],
    locs: dict[int, np.ndarray],
    phrase_lens: dict[int, int],
) -> tuple[np.ndarray, np.ndarray]:
    """Recursive tree eval over the candidate doc array.

    Returns (mask, vis) where vis is a (len(cand) × n_phrases) matrix of
    visible instance counts, already zeroed where invisible.
    """
    n = len(cand)
    P = tf_matrix.shape[1]
    if node.op == "PHRASE":
        pi = node.phrase.index
        mask = present[pi]
        vis = np.zeros((n, P), dtype=np.int64)
        vis[:, pi] = tf_matrix[:, pi]
        return mask, vis
    if node.op == "AND":
        m0, v0 = evaluate(node.children[0], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        m1, v1 = evaluate(node.children[1], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        mask = m0 & m1
        vis = (v0 + v1) * mask[:, None]
        return mask, vis
    if node.op == "OR":
        m0, v0 = evaluate(node.children[0], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        m1, v1 = evaluate(node.children[1], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        return m0 | m1, v0 + v1
    if node.op == "NOT":
        m0, v0 = evaluate(node.children[0], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        m1, _ = evaluate(node.children[1], hits_by_phrase, cand, tf_matrix, present, locs, phrase_lens)
        mask = m0 & ~m1
        return mask, v0 * mask[:, None]
    if node.op == "NEAR":
        pis = [c.phrase.index for c in node.children]
        h = [hits_by_phrase[pi] for pi in pis]
        mask, counts = _near_eval(
            h,
            cand,
            [locs[pi] for pi in pis],
            [present[pi] for pi in pis],
            [phrase_lens[pi] for pi in pis],
            node.near_n,
        )
        vis = np.zeros((n, P), dtype=np.int64)
        for j, pi in enumerate(pis):
            vis[:, pi] = counts[:, j]
        return mask, vis
    raise ValueError(f"unknown node op {node.op}")


def score_shard(
    posting_rows,
    tree: Node,
    phrases: list[Phrase],
    expansions: dict[int, list[str]],
    n_docs: int,
    avgdl: float,
    dfs: dict[int, int] | None,
    k: int,
):
    """Match one query against one shard's pruned postings.

    Returns None when no phrase has a posting in the shard, else
    (matched_docs, dls, tf_vis_matrix, local_dfs): the docs matching the
    whole tree, their lengths, their visible per-phrase instance counts, and
    each phrase's in-shard df (docs with ≥1 instance, tree-independent).
    Scoring is the caller's: with a-priori idfs via ``bm25_scores``, or after
    the global df reduce. ``expansions`` may pin prefix expansions (callers
    pass ``{}``: prefixes expand against the shard's own terms). ``n_docs``,
    ``avgdl``, ``dfs`` and ``k`` are unread; they stay only to keep the
    positional signature that perfbench/kernels.py calls.
    """
    # Per-shard prefix expansion (driver passes NO expansion list): the
    # postings scan already restricted this shard's rows to
    # (exact terms ∪ prefix-matching terms), so expanding against the
    # shard's own term set yields exactly expansion ∩ shard — without the
    # driver ever materializing a web-scale-vocabulary expansion
    # (VERDICT r1 "What's wrong" 3).
    missing = [
        p for p in phrases
        if p.prefix and p.index not in expansions and p.col != "unindexed"
    ]
    if missing:
        expansions = dict(expansions)
        shard_terms = posting_rows["term"].unique()
        for p in missing:
            pref = p.terms[-1]
            expansions[p.index] = [t for t in shard_terms if t.startswith(pref)]

    # positions are needed per PHRASE, not per query: a phrase needs them if
    # it is positional itself (multi-term / anchored) or sits under NEAR;
    # only ITS terms pay the position-stream decode (a plain ``pref*``
    # counts instances from tfs alone)
    near_pis = _near_phrase_indexes(tree)
    pos_phrases = {
        p.index
        for p in phrases
        if len(p.terms) > 1 or p.anchored or p.index in near_pis
    }
    pos_terms: set[str] = set()
    for p in phrases:
        if p.index in pos_phrases and p.col != "unindexed":
            pos_terms.update(p.terms[:-1] if p.prefix else p.terms)
            if p.prefix:
                pos_terms.update(expansions.get(p.index, []))
    idx = ShardIndex(posting_rows, pos_terms)

    hits = {
        p.index: phrase_hits(idx, p, expansions, p.index in pos_phrases)
        for p in phrases
    }

    nonempty = [h for h in hits.values() if len(h.doc_ids)]
    if not nonempty:
        return None
    cand = _union_positions([h.doc_ids for h in nonempty])
    P = len(phrases)
    tf_matrix = np.zeros((len(cand), P), dtype=np.int64)
    dl = np.zeros(len(cand), dtype=np.int64)
    present: dict[int, np.ndarray] = {}
    locs: dict[int, np.ndarray] = {}
    for pi, h in hits.items():
        loc = np.searchsorted(cand, h.doc_ids)
        m = np.zeros(len(cand), dtype=bool)
        m[loc] = True
        tf_matrix[loc, pi] = h.counts
        dl[loc] = h.dls
        full_loc = np.zeros(len(cand), dtype=np.int64)
        full_loc[loc] = np.arange(len(h.doc_ids))
        present[pi] = m
        locs[pi] = full_loc
    phrase_lens = {p.index: len(p.terms) for p in phrases}

    mask, vis = evaluate(tree, hits, cand, tf_matrix, present, locs, phrase_lens)
    local_dfs = {pi: int(present[pi].sum()) for pi in hits}
    if not mask.any():
        # no whole-tree match in this shard, but per-phrase dfs still count
        # toward the global idf reduce
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), np.zeros((0, P), dtype=np.int64), local_dfs

    matched = cand[mask]
    mdl = dl[mask]
    mvis = vis[mask]

    return matched, mdl, mvis, local_dfs


def tree_has_no_near(node: Node) -> bool:
    if node.op == "NEAR":
        return False
    return all(tree_has_no_near(c) for c in node.children)


def tree_is_pure_and(node: Node) -> bool:
    """True iff the tree is a conjunction of plain phrases (no OR/NOT/NEAR)."""
    if node.op == "PHRASE":
        return True
    if node.op == "AND":
        return all(tree_is_pure_and(c) for c in node.children)
    return False


def _near_phrase_indexes(node: Node) -> set[int]:
    """Phrase indexes that appear under a NEAR node (their instance
    positions feed _near_eval even if the phrase itself is a single term)."""
    out: set[int] = set()
    if node.op == "NEAR":
        out.update(c.phrase.index for c in node.children)
    for c in node.children:
        out.update(_near_phrase_indexes(c))
    return out


def bm25_scores(
    vis: np.ndarray, dls: np.ndarray, idfs: np.ndarray, avgdl: float
) -> np.ndarray:
    """FTS5 bm25(): negative scores, idf-clamped, summed in phrase order."""
    denom_dl = K1 * (1.0 - B + B * (dls / max(avgdl, 1e-9)))
    total = np.zeros(len(dls), dtype=np.float64)
    for pi in range(vis.shape[1]):
        tf = vis[:, pi].astype(np.float64)
        contrib = idfs[pi] * tf * (K1 + 1.0) / (tf + denom_dl)
        np.add(total, np.where(tf > 0, contrib, 0.0), out=total)
    return -total


def idf_of(df: int, n_docs: int) -> float:
    import math

    v = math.log((n_docs - df + 0.5) / (df + 0.5))
    return 1e-6 if v <= 0 else v


# ---- block-max WAND (pure-conjunction fast path) ------------------------

class BlockList:
    """Lazily-decoded posting list: block metadata up front, per-block decode
    on demand — a skipped block's bytes are never touched. Backed by the
    codec's independently-decodable 128-doc blocks (codec.py)."""

    __slots__ = (
        "first_docs", "last_docs", "doc_offs", "tf_offs", "dl_offs",
        "block_lens", "max_impacts", "doc_blob", "tf_blob", "dl_blob",
        "n_blocks", "n_docs", "_cache",
    )

    def __init__(self, row, avgdl: float) -> None:
        self.first_docs = np.asarray(row.first_docs, dtype=np.int64)
        self.last_docs = np.asarray(row.last_docs, dtype=np.int64)
        self.doc_offs = row.doc_offs
        self.tf_offs = row.tf_offs
        self.dl_offs = row.dl_offs
        self.block_lens = row.block_lens
        # float32 on disk → widen; the skip test adds a relative margin that
        # more than covers the float32 rounding of the stored bound.
        # Bounds were computed against the avgdl at ENCODE time; if refreshes
        # have since raised the corpus avgdl, every doc's impact grew by at
        # most avgdl_now/enc_avgdl (sup over dl of the denominator ratio), so
        # scaling by max(1, that ratio) keeps the bound conservative.
        enc_avgdl = float(getattr(row, "enc_avgdl", avgdl) or avgdl)
        scale = max(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
        self.max_impacts = np.asarray(row.max_impacts, dtype=np.float64) * scale
        self.doc_blob = bytes(row.doc_blob)
        self.tf_blob = bytes(row.tf_blob)
        self.dl_blob = bytes(row.dl_blob)
        self.n_blocks = len(self.block_lens)
        self.n_docs = int(row.df)
        self._cache: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}

    def block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        b = self._cache.get(i)
        if b is None:
            from ..codec import decode_block_doc_ids, decode_block_u64

            n = int(self.block_lens[i])
            b = (
                decode_block_doc_ids(self.doc_blob, self.doc_offs[i], n),
                decode_block_u64(self.tf_blob, self.tf_offs[i], n),
                decode_block_u64(self.dl_blob, self.dl_offs[i], n),
            )
            self._cache[i] = b
        return b

    def blocks_concat(self, j0: int, j1: int):
        parts = [self.block(j) for j in range(j0, j1)]
        if len(parts) == 1:
            return parts[0]
        return tuple(np.concatenate([p[c] for p in parts]) for c in range(3))


def wand_shard_topk(
    posting_rows,
    phrase_terms: list[str],
    idfs: np.ndarray,
    avgdl: float,
    k: int,
    books: np.ndarray | None = None,
    counters: dict | None = None,
):
    """Block-max WAND top-k for a pure conjunction of plain terms.

    The shard's rarest term drives iteration block by block; every other
    term contributes only the blocks overlapping the pivot block's doc-id
    range. A block is scored only if its upper bound — Σ_t weight_t ·
    block_max_impact_t over the overlapping range — can still beat the
    bounded min-heap's current k-th score; otherwise its bytes are never
    decoded (SURVEY.md §2.5 Q2, north_rule "block-max WAND pruning and a
    bounded min-heap per partition").

    Returns (doc_ids, scores[negative bm25]) of the shard's top-k, or None.
    IDENTICAL results to the exhaustive path by construction: survivors are
    scored through the same ``bm25_scores`` float path (elementwise, so
    per-doc values are bit-equal), and the skip test keeps a relative
    margin so float32 block bounds stay conservative (SURVEY.md §7.8-5).
    ``counters`` (optional) accrues blocks_total / blocks_skipped /
    blocks_dead evidence.
    """
    wanted = set(phrase_terms)
    by_seg: dict[int, dict[str, BlockList]] = {}
    for r in posting_rows.itertuples():
        if r.term in wanted:
            seg = int(getattr(r, "segment", 0))
            by_seg.setdefault(seg, {})[r.term] = BlockList(r, avgdl)
    terms = sorted(wanted)

    # per-distinct-term weight for the upper bound (phrases may repeat terms)
    w: dict[str, float] = {t: 0.0 for t in terms}
    for pi, t in enumerate(phrase_terms):
        w[t] += float(idfs[pi])

    # Segments partition the doc space (a doc's postings for ALL its terms
    # live in the segment it arrived in), so WAND runs per segment while the
    # bounded heap — and therefore the pruning threshold — is shared.
    heap: list[tuple[float, int]] = []  # (total, -doc_id) min-heap, size ≤ k
    n_total = n_skipped = n_dead = 0
    for seg in sorted(by_seg):
        lists = by_seg[seg]
        if any(t not in lists for t in terms):
            continue  # no doc of this segment can hold the conjunction
        n_seg_skip, n_seg_dead = _wand_segment(
            lists, terms, w, phrase_terms, idfs, avgdl, k, books, heap
        )
        n_total += lists[min(terms, key=lambda t: lists[t].n_docs)].n_blocks
        n_skipped += n_seg_skip
        n_dead += n_seg_dead

    if counters is not None:
        counters["blocks_total"] = counters.get("blocks_total", 0) + n_total
        counters["blocks_skipped"] = counters.get("blocks_skipped", 0) + n_skipped
        counters["blocks_dead"] = counters.get("blocks_dead", 0) + n_dead
    if not heap:
        return None
    doc_ids = np.array([-d for _, d in heap], dtype=np.int64)
    scores = np.array([-t for t, _ in heap], dtype=np.float64)
    return doc_ids, scores


def _wand_segment(
    lists: dict[str, "BlockList"],
    terms: list[str],
    w: dict[str, float],
    phrase_terms: list[str],
    idfs: np.ndarray,
    avgdl: float,
    k: int,
    books: np.ndarray | None,
    heap: list,
) -> tuple[int, int]:
    """One segment's block-max WAND pass; pushes into the shared heap.
    Returns (blocks_skipped, blocks_dead)."""
    import heapq

    pivot = min(terms, key=lambda t: lists[t].n_docs)
    others = [t for t in terms if t != pivot]
    P = len(phrase_terms)
    piv = lists[pivot]

    n_skipped = n_dead = 0
    for i in range(piv.n_blocks):
        lo = piv.first_docs[i]
        hi = piv.last_docs[i]  # inclusive block doc range [lo, hi]
        ub = w[pivot] * float(piv.max_impacts[i])
        ranges: list[tuple[str, int, int]] = []
        dead = False
        for t in others:
            # blocks of t overlapping [lo, hi]: last_doc ≥ lo ∧ first_doc ≤ hi
            ol = lists[t]
            j0 = int(np.searchsorted(ol.last_docs, lo, side="left"))
            j1 = int(np.searchsorted(ol.first_docs, hi, side="right"))
            if j1 <= j0:
                dead = True
                break
            ranges.append((t, j0, j1))
            ub += w[t] * float(lists[t].max_impacts[j0:j1].max())
        if dead:
            n_dead += 1
            continue
        if len(heap) >= k and ub * (1.0 + 1e-6) + 1e-9 < heap[0][0]:
            n_skipped += 1
            continue

        docs, tfs, dls = piv.block(i)
        if books is not None:
            sel = np.isin(docs, books)
            if not sel.any():
                continue
            docs, tfs, dls = docs[sel], tfs[sel], dls[sel]
        term_tfs: dict[str, np.ndarray] = {pivot: tfs}
        alive = np.ones(len(docs), dtype=bool)
        for t, j0, j1 in ranges:
            odocs, otfs, _ = lists[t].blocks_concat(j0, j1)
            loc = np.searchsorted(odocs, docs)
            loc_c = np.minimum(loc, len(odocs) - 1)
            hit = odocs[loc_c] == docs
            alive &= hit
            if not alive.any():
                break
            term_tfs[t] = np.where(hit, otfs[loc_c], 0)
        if not alive.any():
            continue
        docs_a = docs[alive]
        vis = np.empty((len(docs_a), P), dtype=np.int64)
        for pi, t in enumerate(phrase_terms):
            vis[:, pi] = term_tfs[t][alive]
        totals = -bm25_scores(vis, dls[alive], np.asarray(idfs, dtype=np.float64), avgdl)
        for d, tot in zip(docs_a.tolist(), totals.tolist()):
            item = (tot, -d)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

    return n_skipped, n_dead
