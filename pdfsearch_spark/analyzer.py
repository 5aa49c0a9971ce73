"""Tokenizer matching the reference's FTS5 analyzer chain exactly.

The reference's entire linguistic pipeline is the FTS5 DDL
``tokenize='porter unicode61 remove_diacritics 2'``
(`/root/reference/database/database.go:59-66`):

1. unicode61: a token is a maximal run of Unicode-6.1 alphanumeric
   codepoints; everything else separates; case-folded to lower;
   ``remove_diacritics 2`` strips diacritics including from pre-composed
   characters (SURVEY.md §2.3 T1/T2, probe-verified).
2. porter: classic Porter stemming applied to the unicode61 output
   (SURVEY.md §2.3 T3). No stopwords are removed: the reference removes
   none, and rank-identity with the FTS5 oracle requires the same.

unicode61's classification/fold tables are pinned to Unicode 6.1 inside
SQLite, so we load exact per-codepoint tables generated by probing the FTS5
oracle itself (scripts/gen_unicode61_tables.py) rather than deriving them
from Python's (newer) unicodedata.

This module is the package's only unicode61+Porter implementation. The index
build tokenizes inside its pandas UDFs, the query parser on the driver, and
snippets on the driver over the ≤ k emitted rows. Two forms:

- ``tokenize``: one ``str.translate`` with a lazily-populated mapping does
  the fold+separate pass at C speed, then ``split``;
- ``tokenize_spans``: ``(term, start, end)`` per token, for snippets, which
  copy the original characters. A length-preserving ``str.translate`` from
  the same tables marks separators, one regex pass takes the maximal
  non-separator runs, and each run is folded like ``tokenize`` folds it.

Both stem through one memo (Zipfian vocabularies hit it almost always).
"""

from __future__ import annotations

import json
import re
from functools import lru_cache

import numpy as np
import pandas as pd

from .porter import stem as porter_stem


def _load_tables_npz():
    """Open the probed unicode61 tables. importlib.resources (not __file__)
    so the package also works zipimported via spark-submit --py-files."""
    import io
    from importlib import resources

    data = (resources.files(__package__) / "data" / "unicode61_tables.npz").read_bytes()
    return np.load(io.BytesIO(data))


class _LazyMap(dict):
    """Lazy codepoint→replacement map for str.translate: a miss computes
    ``fn(cp)`` once and caches it, so memory stays proportional to the
    alphabet actually seen, not to all of Unicode."""

    def __init__(self, fn):
        super().__init__()
        self._fn = fn

    def __missing__(self, cp: int) -> str:
        v = self[cp] = self._fn(cp)
        return v


@lru_cache(maxsize=1)
def _tables() -> _LazyMap:
    """The fold map: separator → ' ', token char → its fold ('' if the char
    folds away, identity string otherwise), from the probed tables."""
    with _load_tables_npz() as z:
        kinds = z["kinds"]
        folds_raw = json.loads(bytes(z["folds_json"]).decode("utf-8"))
    folds = {int(k): v for k, v in folds_raw.items()}
    return _LazyMap(
        lambda cp: folds.get(cp, chr(cp)) if cp < len(kinds) and kinds[cp] else " "
    )


@lru_cache(maxsize=1)
def _marks() -> _LazyMap:
    """The length-preserving mark map: separator → ' ', token char → itself.
    No fold contains a space, so the runs of non-spaces in the marked text
    are exactly the runs ``split`` sees in the folded text."""
    table = _tables()
    return _LazyMap(lambda cp: " " if table[cp] == " " else chr(cp))


_RUN = re.compile(r"[^ ]+")
_STEM_MEMO: dict[str, str] = {}
_STEM_MEMO_CAP = 2_000_000


def _stem_all(raw: list[str]) -> list[str]:
    """Porter stems of unicode61 tokens, through the one bounded memo."""
    memo = _STEM_MEMO
    out = []
    for t in raw:
        s = memo.get(t)
        if s is None:
            s = porter_stem(t)
            if len(memo) < _STEM_MEMO_CAP:
                memo[t] = s
        out.append(s)
    return out


def unicode61_tokens(text: str) -> list[str]:
    """unicode61 + remove_diacritics 2 tokens (no stemming)."""
    if not text:
        return []
    return text.translate(_tables()).split()


def token_count(text: str) -> int:
    """Number of tokens (= FTS5 doc length ``dl``) without stemming.

    Stemming maps tokens 1:1, so the count after unicode61 splitting is the
    count FTS5 stores — this skips the Porter pass and list construction for
    callers (the extraction stage's dl computation) that never look at the
    tokens themselves."""
    if not text:
        return 0
    return len(text.translate(_tables()).split())


def tokenize(text: str) -> list[str]:
    """Full analyzer chain: unicode61 fold/split → Porter stem."""
    return _stem_all(unicode61_tokens(text))


def tokenize_series(texts: pd.Series) -> pd.Series:
    """``tokenize`` over a pandas Series: Series[str] → Series[list[str]]."""
    return pd.Series([tokenize(t) for t in texts], index=texts.index)


def tokenize_spans(text: str) -> list[tuple[str, int, int]]:
    """``(term, start, end)`` per token: the terms are ``tokenize(text)`` and
    ``text[start:end]`` is the token's original run of characters (a run
    whose characters all fold away yields no token, as in ``tokenize``)."""
    if not text:
        return []
    table = _tables()
    raw: list[str] = []
    spans: list[tuple[int, int]] = []
    for m in _RUN.finditer(text.translate(_marks())):
        s, e = m.span()
        folded = text[s:e].translate(table)
        if folded:
            raw.append(folded)
            spans.append((s, e))
    return [(t, s, e) for t, (s, e) in zip(_stem_all(raw), spans)]
