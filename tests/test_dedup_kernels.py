"""Bit-exactness of the vectorized dedup signature kernels.

The minhash/simhash kernels run the whole Arrow batch through uint64
NumPy passes (31-bit-split Mersenne-61 modmul, segmented reduceat).
These tests pin them to an independent arbitrary-precision Python-int
oracle of the published definitions, so any future optimization that
changes a single signature bit fails loudly.  (No Spark session needed —
the UDF-wrapped functions are exercised directly via ``.func`` — except
for the JVM-side set_jaccard verify.)
"""

from __future__ import annotations

import random
import string

import numpy as np
import pandas as pd
import pytest

from proj_spark.text import dedup as D
from proj_spark.text.dedup import (MERSENNE61, _batch_shingles, _fold61,
                                   _modmul61, _shingle_sets)


def _py_shingle_set(text: str, width: int) -> list[int]:
    """Oracle: unique h(s) = sum(byte_i * 131^i) mod 2^61-1, Python ints."""
    b = text.encode("utf-8")
    out = set()
    for p in range(len(b) - width + 1):
        h = 0
        for i in range(width):
            h += b[p + i] * pow(131, i, MERSENNE61)
        out.add(h % MERSENNE61)
    return sorted(out)


def _texts(n=120, seed=11) -> pd.Series:
    rng = random.Random(seed)
    alpha = string.ascii_letters + " .,!éü日本語"
    rows = ["", "a", "ab", "aaaaaaaaaaaa", "hello world " * 30]
    rows += ["".join(rng.choices(alpha, k=rng.randint(0, 500)))
             for _ in range(n)]
    return pd.Series(rows)


def test_modmul61_exact():
    rng = np.random.default_rng(5)
    a = rng.integers(0, MERSENNE61, 2000, dtype=np.uint64)
    x = rng.integers(0, MERSENNE61, 2000, dtype=np.uint64)
    got = _modmul61(a, x)
    for ai, xi, gi in zip(a.tolist(), x.tolist(), got.tolist()):
        assert gi == (ai * xi) % MERSENNE61
    for ai in (0, 1, (1 << 31) - 1, 1 << 31, MERSENNE61 - 1):
        for xi in (0, 1, 1 << 60, MERSENNE61 - 1):
            g = _modmul61(np.uint64(ai), np.array([xi], dtype=np.uint64))[0]
            assert int(g) == (ai * xi) % MERSENNE61


def test_fold61_exact():
    rng = np.random.default_rng(6)
    x = rng.integers(0, 1 << 63, 5000, dtype=np.uint64)
    x[:4] = [0, MERSENNE61, MERSENNE61 + 1, (1 << 63) - 1]
    got = _fold61(x)
    assert all(int(g) < MERSENNE61 for g in got[1:2])
    for xi, gi in zip(x.tolist(), got.tolist()):
        assert int(gi) % MERSENNE61 == xi % MERSENNE61


@pytest.mark.parametrize("width", [3, 5, 20])
def test_batch_shingles_match_python_oracle(width):
    s = _texts()
    H, starts = _batch_shingles(s, width)
    per_doc = _shingle_sets(H, starts)
    assert len(per_doc) == len(s)
    for t, got in zip(s, per_doc):
        assert got.tolist() == _py_shingle_set(t, width)
    # batch variant covers every window (with duplicates) in doc order
    for d, t in enumerate(s):
        nwin = max(len(t.encode("utf-8")) - width + 1, 0)
        assert starts[d + 1] - starts[d] == nwin


def test_minhash_matches_python_oracle():
    num_hashes, shingle = 16, 5
    s = _texts(40)
    sig = D.minhash_udf(num_hashes, shingle).func(s)
    a = [(2 * j + 1) * 2654435761 % MERSENNE61 for j in range(num_hashes)]
    b = [(j * 40503 + 2654435769) % MERSENNE61 for j in range(num_hashes)]
    for t, got in zip(s, sig):
        sh = _py_shingle_set(t, shingle)
        if not sh:
            assert list(got) == [0] * num_hashes
            continue
        exp = [min((a[j] * x + b[j]) % MERSENNE61 for x in sh)
               for j in range(num_hashes)]
        assert list(got) == exp


def _py_splitmix(h: int) -> int:
    mask = (1 << 64) - 1
    v = h & mask
    v = ((v ^ (v >> 30)) * 0xBF58476D1CE4E5B9) & mask
    v = ((v ^ (v >> 27)) * 0x94D049BB133111EB) & mask
    return (v ^ (v >> 31)) & mask


def test_simhash_matches_python_oracle():
    shingle = 3
    s = _texts(40)
    sig = D.simhash_udf(shingle).func(s).to_numpy()
    for t, got in zip(s, sig):
        sh = _py_shingle_set(t, shingle)
        if not sh:
            assert got == 0
            continue
        exp = 0
        mixed = [_py_splitmix(x) for x in sh]
        for bit in range(64):
            vote = sum(1 if (m >> bit) & 1 else -1 for m in mixed)
            if vote > 0:
                exp |= 1 << bit
        # kernel returns the int64 reinterpretation of the uint64 signature
        assert int(np.uint64(np.int64(got))) == exp


def test_set_jaccard_exact(spark):
    """The JVM array_intersect verify equals the per-pair oracle,
    empty sets included."""
    from proj_spark.text.dedup import set_jaccard
    rng = np.random.default_rng(9)
    rows, exp = [], []
    for i in range(3000):
        a = np.unique(rng.integers(0, 500, rng.integers(0, 40)))
        b = np.unique(rng.integers(0, 500, rng.integers(0, 40)))
        rows.append((i, a.tolist(), b.tolist()))
        inter = np.intersect1d(a, b, assume_unique=True).size
        union = len(a) + len(b) - inter
        exp.append(inter / union if union else 1.0)
    df = spark.createDataFrame(rows, "i long, a array<long>, b array<long>")
    got = [r["j"] for r in df.select("i", set_jaccard("a", "b").alias("j"))
           .orderBy("i").collect()]
    assert any(len(r[1]) == 0 for r in rows)
    assert got == exp
