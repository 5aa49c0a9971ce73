"""FTS5 ``snippet()`` re-implementation, byte-identical to the oracle.

The reference calls snippet() twice per result row: N=16 -> title, N=60 ->
text (/root/reference/database/database.go:180-181). The algorithm below is
the documented SQLite fts5_aux.c snippet behavior (public SQLite source),
re-derived and golden-tested against the in-process FTS5 oracle:

1. Candidate windows: for every phrase-instance position ``io``, score the
   n-token window [io, io+n): the first in-window instance of each distinct
   phrase scores 1000, repeats 1. The window is then re-centered on its
   matches: start = iFirst - (n - (iLast-iFirst))/2, clamped to the document.
2. Sentence-boundary candidates: windows starting at a "sentence start" (token
   0, or a token whose preceding non-{space,tab,nl,cr} char is '.' or ':')
   get +100 (+120 at doc start) and are NOT re-centered.
3. Highest score wins (strictly-greater comparisons keep the earliest).
4. Rendering copies the ORIGINAL bytes from the start offset of the first
   window token; overlapping phrase instances are merged and wrapped in
   open/close marks; '...' is prepended when the window doesn't start at
   token 0 and appended unless the window reaches the last token, in which
   case the raw tail of the document (trailing separators included) is
   emitted instead.

Runs driver-side over the <= k rows a request emits. Each row is tokenized
once (``analyzer.tokenize_spans``); ``snippet_pair`` hands those tokens to the
visibility plan and to both window renders.
"""

from __future__ import annotations

import numpy as np

from ..analyzer import tokenize_spans
from .scorer import PhraseHits, evaluate, near_surviving


def find_phrase_instances(
    terms: list[str], phrase_slots: list[list[frozenset[str]]], anchored: list[bool]
) -> list[list[tuple[int, int]]]:
    """Per phrase: list of (start_tok, end_tok_exclusive) instances."""
    out: list[list[tuple[int, int]]] = []
    nt = len(terms)
    for slots, anc in zip(phrase_slots, anchored):
        inst: list[tuple[int, int]] = []
        L = len(slots)
        rng = [0] if anc else range(nt - L + 1)
        for s in rng:
            if s + L > nt:
                continue
            if all(terms[s + j] in slots[j] for j in range(L)):
                inst.append((s, s + L))
        out.append(inst)
    return out


def _sentence_starts(text: str, toks: list[tuple[str, int, int]]) -> list[int]:
    """fts5SentenceFinderCb: token 0, plus tokens whose preceding
    non-{space,tab,newline,cr} char (with at least one such separator
    skipped) is '.' or ':'."""
    out: list[int] = []
    for pos, (_t, c0, _c1) in enumerate(toks):
        if pos == 0:
            out.append(0)
            continue
        i = c0 - 1
        c = ""
        while i >= 0:
            c = text[i]
            if c not in (" ", "\t", "\n", "\r"):
                break
            i -= 1
        if i != c0 - 1 and c in (".", ":"):
            out.append(pos)
    return out


def _trunc_div2(d: int) -> int:
    """C integer division by 2 (truncates toward zero)."""
    return d // 2 if d >= 0 else -((-d) // 2)


def _score_window(
    instances: list[tuple[int, int, int]],
    i_pos: int,
    n: int,
    n_docsize: int,
    adjust: bool,
) -> tuple[int, int]:
    """fts5SnippetScore: instances = sorted (io, phrase_idx, end_excl)."""
    i_end = i_pos + n
    seen: set[int] = set()
    score = 0
    i_first = -1
    i_last = 0
    for io, ip, ie in instances:
        if i_pos <= io < i_end:
            score += 1 if ip in seen else 1000
            seen.add(ip)
            if i_first < 0:
                i_first = io
            i_last = ie
    if not adjust:
        return score, i_pos
    i_adj = i_first - _trunc_div2(n - (i_last - i_first))
    if i_adj + n > n_docsize:
        i_adj = n_docsize - n
    if i_adj < 0:
        i_adj = 0
    return score, i_adj


def make_snippet(
    text: str,
    phrase_slots: list[list[frozenset[str]]],
    anchored: list[bool],
    n: int,
    open_m: str = "<b>",
    close_m: str = "</b>",
    ellips: str = "...",
    per_phrase: list[list[tuple[int, int]]] | None = None,
) -> str:
    toks = tokenize_spans(text)
    if per_phrase is None:
        per_phrase = find_phrase_instances([t for t, _, _ in toks], phrase_slots, anchored)
    return _snippet(text, toks, per_phrase, n, open_m, close_m, ellips)


def snippet_pair(tree, slots_list, anchored, text: str) -> tuple[str, str]:
    """The reference's two snippets of one result row, snippet(…,16) and
    snippet(…,60), from one tokenization of ``text``."""
    toks = tokenize_spans(text)
    _, _, per_phrase = _plan(tree, slots_list, anchored, toks)
    return _snippet(text, toks, per_phrase, 16), _snippet(text, toks, per_phrase, 60)


def _snippet(
    text: str,
    toks: list[tuple[str, int, int]],
    per_phrase: list[list[tuple[int, int]]],
    n: int,
    open_m: str = "<b>",
    close_m: str = "</b>",
    ellips: str = "...",
) -> str:
    n_docsize = len(toks)
    # xInst order: by position, phrase index as tiebreak
    instances = sorted(
        (s, pi, e) for pi, inst in enumerate(per_phrase) for (s, e) in inst
    )
    a_first = _sentence_starts(text, toks)

    best_score = 0
    best_start = 0
    for io, _ip, _ie in instances:
        score, i_adj = _score_window(instances, io, n, n_docsize, adjust=True)
        if score > best_score:
            best_score, best_start = score, i_adj
        if a_first and n_docsize > n:
            # last sentence start <= io (C loop over aFirst)
            jj = 0
            while jj < len(a_first) - 1 and a_first[jj + 1] <= io:
                jj += 1
            if a_first[jj] < io:
                s2, _ = _score_window(instances, a_first[jj], n, n_docsize, adjust=False)
                s2 += 120 if a_first[jj] == 0 else 100
                if s2 > best_score:
                    best_score, best_start = s2, a_first[jj]

    return _render(text, toks, instances, best_start, n, open_m, close_m, ellips)


def _render(
    text: str,
    toks: list[tuple[str, int, int]],
    instances: list[tuple[int, int, int]],
    i_range_start: int,
    n: int,
    open_m: str,
    close_m: str,
    ellips: str,
) -> str:
    n_docsize = len(toks)
    i_range_end = i_range_start + n - 1

    # CInstIter: merge instances overlapping in token space (inclusive ends)
    merged: list[list[int]] = []
    for io, _ip, ie in instances:
        e_incl = ie - 1
        if merged and io <= merged[-1][1]:
            if e_incl > merged[-1][1]:
                merged[-1][1] = e_incl
        else:
            merged.append([io, e_incl])

    out: list[str] = []
    if i_range_start > 0:
        out.append(ellips)
    i_off = 0
    it = 0
    for i_pos, (_t, c0, c1) in enumerate(toks):
        if i_pos < i_range_start or i_pos > i_range_end:
            continue
        if i_range_start and i_pos == i_range_start:
            i_off = c0
        # advance iterator past instances that ended before the range
        while it < len(merged) and merged[it][1] < i_range_start:
            it += 1
        cur = merged[it] if it < len(merged) else (-1, -2)
        if i_pos == cur[0]:
            out.append(text[i_off:c0])
            out.append(open_m)
            i_off = c0
        if i_pos == cur[1]:
            if cur[0] < i_range_start:
                out.append(open_m)
            out.append(text[i_off:c1])
            out.append(close_m)
            i_off = c1
            it += 1
            cur = merged[it] if it < len(merged) else (-1, -2)
        if i_pos == i_range_end:
            out.append(text[i_off:c1])
            i_off = c1
            if cur[0] <= i_pos < cur[1]:
                out.append(close_m)
    if i_range_end >= n_docsize - 1:
        out.append(text[i_off:])
    else:
        out.append(ellips)
    return "".join(out)


class PrefixSet:
    """Set-like slot matcher for prefix phrases: contains every term starting
    with ``prefix``. Lets the snippet path highlight ``pref*`` matches in the
    ≤k emitted rows without anyone materializing the full vocabulary
    expansion (at web scale ``a*`` expands to millions of terms; the slot
    test only ever asks membership of the ≤dl tokens of one document)."""

    __slots__ = ("prefix",)

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix

    def __contains__(self, term: object) -> bool:
        return isinstance(term, str) and term.startswith(self.prefix)


def phrase_slot_table(phrases, expansions) -> tuple[list, list]:
    """Per-slot allowed-term sets + anchored flags, aligned to phrase INDEX
    (an unindexed-column phrase gets an impossible slot so indexes line up).
    A prefix phrase without a driver-materialized expansion list gets a
    PrefixSet matcher instead."""
    slots_list: list[list[frozenset[str]]] = []
    anchored: list[bool] = []
    for p in sorted(phrases, key=lambda p: p.index):
        if p.col == "unindexed":
            slots_list.append([frozenset()])
            anchored.append(False)
            continue
        slots = [frozenset([t]) for t in p.terms]
        if p.prefix:
            exp = expansions.get(p.index)
            slots[-1] = frozenset(exp) if exp is not None else PrefixSet(p.terms[-1])
        slots_list.append(slots)
        anchored.append(p.anchored)
    return slots_list, anchored


def snippet_plan(
    tree, slots_list, anchored, text: str
) -> tuple[list, list, list]:
    """Per-doc highlight plan: (slots, anchored, instances) for exactly the
    phrase instances FTS5's snippet() marks in THIS row.

    Two FTS5 behaviors reproduced here (both fuzz-found):
    - a phrase is highlighted only when its subtree CONTRIBUTES under the
      boolean tree — same visibility rule the scorer applies to tf (an OR
      branch whose AND fails contributes nothing even if the term is
      present: '(a OR b) AND c OR d');
    - under NEAR, only PARTICIPATING instances are highlighted (an
      instance outside every valid near-combination is not marked).
    Reuses scorer.evaluate over a one-row frame and the scorer's
    near_surviving, so snippets can never drift from scoring semantics."""
    return _plan(tree, slots_list, anchored, tokenize_spans(text))


def _plan(tree, slots_list, anchored, toks) -> tuple[list, list, list]:
    """snippet_plan over an already tokenized row."""
    per_phrase = find_phrase_instances([t for t, _, _ in toks], slots_list, anchored)
    P = len(slots_list)
    cand = np.zeros(1, dtype=np.int64)
    tf_matrix = np.zeros((1, P), dtype=np.int64)
    present: dict[int, np.ndarray] = {}
    locs: dict[int, np.ndarray] = {}
    hits: dict[int, PhraseHits] = {}
    for pi in range(P):
        inst = per_phrase[pi]
        tf_matrix[0, pi] = len(inst)
        present[pi] = np.array([bool(inst)])
        locs[pi] = np.zeros(1, dtype=np.int64)
        starts = np.array([s for s, _ in inst], dtype=np.int64)
        hits[pi] = PhraseHits(
            np.zeros(1 if inst else 0, dtype=np.int64),
            np.array([len(inst)] if inst else [], dtype=np.int64),
            np.zeros(1 if inst else 0, dtype=np.int64),
            [starts],
        )
    phrase_lens = {pi: len(slots_list[pi]) for pi in range(P)}
    mask, vis = evaluate(tree, hits, cand, tf_matrix, present, locs, phrase_lens)
    if not mask[0]:
        # shouldn't happen for a returned result row; highlight everything
        # as a conservative fallback
        visible = set(range(P))
    else:
        visible = {pi for pi in range(P) if vis[0, pi] > 0}

    # NEAR participation filter
    def walk(node):
        if node.op == "NEAR":
            pis = [c.phrase.index for c in node.children]
            if all(per_phrase[pi] for pi in pis):
                spans = []
                for pi in pis:
                    s = np.array([a for a, _ in per_phrase[pi]], dtype=np.int64)
                    e = np.array([b - 1 for _, b in per_phrase[pi]], dtype=np.int64)
                    spans.append((s, e))
                surv = near_surviving(spans, node.near_n)
                for j, pi in enumerate(pis):
                    per_phrase[pi] = [
                        inst for ok, inst in zip(surv[j], per_phrase[pi]) if ok
                    ]
            return
        for c in node.children:
            walk(c)

    walk(tree)
    keep = sorted(visible)
    return (
        [slots_list[i] for i in keep],
        [anchored[i] for i in keep],
        [per_phrase[i] for i in keep],
    )
