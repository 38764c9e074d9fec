"""Winnowing fingerprints: equality with a scalar reference, the
paper's matching guarantee, and short-document conventions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proj_spark.text import winnow


def ref_select(text: str, k: int, w: int) -> list[int]:
    """Independent scalar implementation of the same selection."""
    s = text.lower()
    codes = [ord(c) for c in s]
    hs = []
    for i in range(len(codes) - k + 1):
        acc = 0
        for c in codes[i:i + k]:
            acc = (acc * winnow.HASH_B + c) % winnow.HASH_M
        hs.append(acc)
    if not hs:
        return []
    if len(hs) < w:
        return [min(hs)]
    return sorted({min(hs[i:i + w]) for i in range(len(hs) - w + 1)})


CASES = [
    "The quick brown fox jumps over the lazy dog again and again.",
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",           # degenerate: one hash value
    "short",                                     # < k chars -> no k-gram
    "exactly twelve!",                           # barely >= k
    "Numbers 12345 and punctuation?! mixed-in; URLs http://x.example/",
    "",                                          # empty
]


def test_matches_scalar_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CASES)],
                               "doc_id long, text string")
    got: dict[int, list[int]] = {i: [] for i in range(len(CASES))}
    for r in winnow.fingerprints(df, k=12, w=4).collect():
        got[r.doc_id].append(r.fp)
    for i, t in enumerate(CASES):
        assert sorted(got[i]) == ref_select(t, 12, 4), f"case {i}: {t!r}"


def test_matching_guarantee(spark):
    """Any shared substring of length >= w + k - 1 must share at least
    one selected fingerprint (Schleimer et al., theorem 1)."""
    k, w = 8, 5
    shared = "a common plagiarized passage of ample length here"
    assert len(shared) >= w + k - 1
    docs = [(0, "PREFIX one " + shared + " SUFFIX alpha"),
            (1, "totally different opening.. " + shared + " other tail")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = winnow.fingerprints(df, k=k, w=w).collect()
    s0 = {r.fp for r in rows if r.doc_id == 0}
    s1 = {r.fp for r in rows if r.doc_id == 1}
    assert s0 & s1, "guaranteed shared fingerprint missing"


def test_short_doc_gets_one_fingerprint(spark):
    """>= k chars but fewer than w windows: global-min fallback."""
    df = spark.createDataFrame([(0, "thirteen chs!")], "doc_id long, text string")
    rows = winnow.fingerprints(df, k=12, w=16).collect()
    assert len(rows) == 1


def test_sub_k_doc_has_no_rows(spark):
    df = spark.createDataFrame([(0, "tiny")], "doc_id long, text string")
    assert winnow.fingerprints(df, k=12, w=16).count() == 0


def test_winnow_pairs_finds_shared_passage(spark, monkeypatch):
    """The index join surfaces the pair sharing a long passage and not
    unrelated docs."""
    import __spark_entry__ as entry
    passage = ("an identical long passage that will produce many shared "
               "winnowing fingerprints across both documents, long enough "
               "for several windows")
    docs = [(0, "intro A. " + passage + " outro A."),
            (1, "intro B! " + passage + " outro B!"),
            (2, "completely unrelated text with nothing in common at all, "
                "padded to a comparable length for fairness and realism.")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    monkeypatch.setattr(entry, "_docs", lambda _s, _d: df)
    out = {(r.id_a, r.id_b): r.n_shared
           for r in entry.q_winnow_pairs(spark, "ignored").collect()}
    assert (0, 1) in out and out[(0, 1)] >= 2
    assert all(p == (0, 1) for p in out)


def test_kernel_equals_reference_form(spark):
    """The Arrow kernel selects the same integer sets as the scalar
    reference — incl. non-ASCII text (code-point arithmetic)."""
    cases = CASES + ["héllo wörld — ünïcode paragraph with açcents, "
                     "long enough for windows to form properly"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "doc_id long, text string")
    for k, w in ((12, 16), (8, 5)):
        got = sorted((r.doc_id, r.fp) for r in
                     winnow.fingerprints(df, k=k, w=w).collect())
        want = sorted((i, fp) for i, t in enumerate(cases)
                      for fp in ref_select(t, k, w))
        assert got == want


def test_kernel_equals_reference_on_corpus(spark):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    got = sorted((r.doc_id, r.fp) for r in
                 winnow.fingerprints(docs).collect())
    want = sorted((r.doc_id, fp) for r in docs.collect()
                  for fp in ref_select(r.text, 12, 16))
    assert got == want and len(got) > 0


def test_bpe_pretokenizer_matches_python_re(spark):
    """Spark regexp_extract_all (Java regex) == python re (the oracle's
    RE2 was probed separately) over mixed text — the pattern stays in
    the lookahead-free subset all three dialects share."""
    import re as _re

    from proj_spark.text import analysis

    texts = [
        "The quick brown-fox 123 jumps!  twice, 2nd time; http://x.y/z",
        "ALL-CAPS and   triple  spaces ...ellipsis... 42nd st.",
        "unicode: héllo wörld — naïve café 3.14159",
        "",
        "1234567890",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r.i: r.toks for r in
           df.select("i", analysis.bpe_tokens(F.col("text")).alias("toks"))
           .collect()}
    for i, t in enumerate(texts):
        assert got[i] == _re.findall(analysis.BPE_PATTERN, t.lower()), t
