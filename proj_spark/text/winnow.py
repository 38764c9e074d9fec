"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003): rolling k-gram hashes, a sliding window of size w, keep
each window's minimum hash.  The selected hashes are a position-robust
fingerprint set — the paper's guarantee is that any shared substring of
length >= w+k-1 between two documents shares at least one selected
fingerprint, which is what plagiarism/near-dup localization indexes.

Engine formulation — one Arrow-batched kernel (winnow_kernel):

    codes  = unicode code points of the lowercased text
    h[i]   = fold over codes[i .. i+k-1] of  acc = (acc * B + c) % M
    sel    = distinct { min(h[i .. i+w-1]) : each window }

The rolling hash is a polynomial hash with B = 131, M = 2^31 - 1; the
fold keeps acc < 2^31 so acc * B + c < 2^39 — no BIGINT overflow, and
the identical fold is expressible in DuckDB (list_reduce's first-
element seeding equals a fold from 0, because (0*B + c1) % M == c1),
giving the oracle bit-equal hashes.

Fingerprinting is by hash VALUE (the paper's tie-break by rightmost
position only changes which position is recorded, not the selected
set), so the minimum per window is exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

HASH_B = 131
HASH_M = (1 << 31) - 1


def winnow_kernel(k: int, w: int):
    """Arrow-vectorized winnowing selection: text -> sorted distinct
    window-min hashes.  Documents shorter than one full window fall
    back to their minimum hash (the paper's short-document convention:
    every document with at least one k-gram gets one fingerprint).

    The batch is processed as ONE concatenated code-point array — the
    rolling-hash fold is k vectorized passes over the whole batch and
    the sliding window-min is w vectorized passes, with per-document
    boundaries handled by slicing the global arrays afterwards.  No
    per-row Python in the O(chars) work; int64 arithmetic is exact
    (acc < 2^31, so acc*B + c < 2^39).
    """

    @pandas_udf("array<long>")
    def sel(texts: pd.Series) -> pd.Series:
        lows = [(t if isinstance(t, str) else "").lower() for t in texts]
        bufs = [s.encode("utf-32-le") for s in lows]
        lens = np.fromiter((len(b) >> 2 for b in bufs), np.int64,
                           count=len(bufs))
        cat = np.frombuffer(b"".join(bufs), dtype="<u4").astype(np.int64)
        starts = np.zeros(len(bufs) + 1, np.int64)
        np.cumsum(lens, out=starts[1:])
        total = int(cat.size)
        # rolling k-gram hash over the concatenation (positions that
        # straddle a document boundary are computed but never read)
        m = max(total - k + 1, 0)
        acc = np.zeros(m, np.int64)
        for j in range(k):
            np.add(acc * HASH_B, cat[j:j + m], out=acc)
            np.mod(acc, HASH_M, out=acc)
        # global sliding window-min over the hash array
        mw = max(m - w + 1, 0)
        mins = acc[:mw].copy()
        for j in range(1, w):
            np.minimum(mins, acc[j:j + mw], out=mins)
        out = []
        for d in range(len(bufs)):
            nd = int(lens[d])
            s = int(starts[d])
            nh = nd - k + 1
            if nh <= 0:
                out.append([])
            elif nh < w:
                out.append([int(acc[s:s + nh].min())])
            else:
                out.append(np.unique(mins[s:s + nh - w + 1]).tolist())
        return pd.Series(out)

    return sel


def fingerprints(docs: DataFrame, k: int = 12, w: int = 16,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exploded winnowing fingerprints: one row per (doc, selected hash).

    The downstream near-dup index is a shuffle on fp (documents sharing
    a fingerprint land in one bucket) — the same scale shape as the
    shingle and minhash band joins.
    """
    sel = winnow_kernel(k, w)(F.col(text_col))
    return docs.select(F.col(id_col), F.explode(sel).alias("fp"))
