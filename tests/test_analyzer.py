"""Tokenizer equivalence vs the FTS5 oracle (SURVEY.md §5.3-2).

Our tokenize() must produce, per document, the exact token multiset FTS5
indexes under ``tokenize='porter unicode61 remove_diacritics 2'``
(/root/reference/database/database.go:59-66)."""

from __future__ import annotations

from collections import Counter

from pdfsearch_spark.analyzer import tokenize
from pdfsearch_spark.fnv import fnv1_64_signed

# Probe-verified unit cases from SURVEY.md §2.3
UNIT_CASES = [
    ("Café au lait", ["cafe", "au", "lait"]),
    ("naïve", ["naiv"]),
    ("résumé", ["resum"]),
    ("coöperate", ["cooper"]),
    ("run runs running runner", ["run", "run", "run", "runner"]),
    ("failure failures", ["failur", "failur"]),
    ("database databases", ["databas", "databas"]),
    ("covid-19", ["covid", "19"]),
    ("HYPERTENSION", ["hypertens"]),
    ("acute", ["acut"]),
    ("", []),
]


def test_unit_cases():
    for text, want in UNIT_CASES:
        got = tokenize(text)
        assert got == want, f"tokenize({text!r}) = {got}, want {want}"


def test_corpus_vocab_equivalence(corpus_pdf, oracle):
    """Global (term -> df, cf) from our tokenizer == fts5vocab, full corpus."""
    vocab = oracle.vocab_terms()
    want = {r.term: (int(r.df), int(r.cnt)) for r in vocab.itertuples()}

    ours_df: Counter = Counter()
    ours_cf: Counter = Counter()
    for t in corpus_pdf["text"]:
        toks = tokenize(t)
        ours_cf.update(toks)
        ours_df.update(set(toks))

    got = {t: (ours_df[t], ours_cf[t]) for t in ours_cf}
    assert got == want, (
        f"vocab mismatch: ours-only={set(got) - set(want)} "
        f"oracle-only={set(want) - set(got)}"
    )


def test_per_doc_token_multiset(corpus_pdf, oracle):
    """Per-document token multiset equality on a sample of docs."""
    sample = corpus_pdf.iloc[::25]
    for url, text in zip(sample["url"], sample["text"]):
        doc_id = fnv1_64_signed(url)
        want = Counter(oracle.doc_terms(doc_id))
        got = Counter(tokenize(text))
        assert got == want, f"doc {url}: multiset mismatch"


def test_token_count_matches_tokenize(corpus_pdf):
    """token_count and the span form agree with tokenize: the span terms are
    tokenize(text), each span's characters tokenize to exactly its term, the
    text between spans tokenizes to nothing, and each span is a maximal run
    (the characters just outside it are separators)."""
    from pdfsearch_spark.analyzer import token_count, tokenize, tokenize_spans

    def separates(c):
        return token_count(f"a{c}a") == 2

    cases = [
        "",
        "Café au lait, s'il vous plaît!",
        "running runs runner 123 foo-bar",
        "coöperate naïve Zürich\nsecond line\t tabs",
        "†‡• only-seps ———",
        "mixed ASCII và tiếng Việt 漢字 кирилица",
        "\u0301a\u0301b \u0301\u0301 c",
    ]
    for s in cases + [u[0] for u in UNIT_CASES] + list(corpus_pdf["text"]):
        toks = tokenize(s)
        assert token_count(s) == len(toks), repr(s)
        spans = tokenize_spans(s)
        assert [t for t, _, _ in spans] == toks, repr(s)
        prev = 0
        for term, start, end in spans:
            assert tokenize(s[start:end]) == [term], (repr(s), start, end)
            assert start == 0 or separates(s[start - 1]), (repr(s), start)
            assert end == len(s) or separates(s[end]), (repr(s), end)
            assert tokenize(s[prev:start]) == [], (repr(s), prev, start)
            prev = end
        assert tokenize(s[prev:]) == [], (repr(s), prev)
