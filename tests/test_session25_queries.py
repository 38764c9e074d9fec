"""First-principles checks for the session-25 layer: pure-Python /
pandas replays at sf0.001 of market-basket lift, Brown double-EWMA
forecasting (including the telescoped combined-weight identity),
lagged cross-correlation, quadratic Burrows' Delta, weighted
systematic sampling, shingle containment, personalized PageRank, and
truss peeling — plus hand cases for the new graph kernels."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd

import __spark_entry__ as entry
from __spark_entry__ import (BFS_SEED_MOD, CCF_MAX_LAG, CONT_DEN, CONT_NUM,
                             CP_MIN_SUPP, CP_TOPK, HOLT_K, N_DOMAINS,
                             NGRAM_DF_CAP, NGRAM_W, PR_ITERS, STYLO_FSCALE,
                             STYLO_M, STYLO_TSCALE, TRUSS_ROUNDS,
                             TRUSS_SAMPLE_MOD, WS_K)
from proj_spark.graph import PR_DEN, PR_INIT, PR_NUM

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# copurchase
# ---------------------------------------------------------------------------

def test_copurchase_replay(spark):
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    items = sorted({(int(o), int(p))
                    for o, p in zip(li.l_orderkey, li.l_partkey)})
    n_orders = len({o for o, _ in items})
    by_order = defaultdict(list)
    part_n = Counter()
    for o, p in items:
        by_order[o].append(p)
        part_n[p] += 1
    supp = Counter()
    for ps in by_order.values():
        ps = sorted(ps)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                supp[(ps[i], ps[j])] += 1
    rows = []
    for (pa, pb), s in supp.items():
        if s >= CP_MIN_SUPP:
            lift = (s * n_orders * 1_000_000) // (part_n[pa] * part_n[pb])
            rows.append((pa, pb, s, part_n[pa], part_n[pb], lift))
    rows.sort(key=lambda r: (-r[5], r[0], r[1]))
    want = rows[:CP_TOPK]
    got = [(r.p_a, r.p_b, r.supp, r.na, r.nb, r.lift_q)
           for r in entry.q_copurchase(spark, SF_DIR).collect()]
    # the cut boundary is deterministic (lift desc, p_a, p_b) in both
    assert got == want


# ---------------------------------------------------------------------------
# holt_hours
# ---------------------------------------------------------------------------

def _hours(spark):
    ev = entry._events_micros(spark, SF_DIR).collect()
    c = Counter(int(r.tm) // 3_600_000_000 for r in ev)
    return c


def test_holt_combined_weight_identity():
    # the telescoped lag-j weight 2^(2K-j)*m_j must equal the literal
    # double convolution of the dyadic kernel with itself, and the
    # total mass must be W^2
    K = HOLT_K
    w1 = {k: 1 << (K - k) for k in range(1, K + 1)}
    conv = Counter()
    for k1, a in w1.items():
        for k2, b in w1.items():
            conv[k1 + k2] += a * b
    for j in range(2, 2 * K + 1):
        m = min(K, j - 1) - max(1, j - K) + 1
        assert conv[j] == (1 << (2 * K - j)) * m, j
    assert sum(conv.values()) == ((1 << K) - 1) ** 2


def test_holt_hours_replay(spark):
    K = HOLT_K
    w = (1 << K) - 1
    c = _hours(spark)
    x_min, x_max = min(c), max(c)
    want = {}
    for x in sorted(c):
        if x < x_min + 2 * K:
            continue
        s1 = sum(c.get(x - k, 0) << (K - k) for k in range(1, K + 1))
        s2 = sum(c.get(x - j, 0)
                 * ((min(K, j - 1) - max(1, j - K) + 1) << (2 * K - j))
                 for j in range(2, 2 * K + 1))
        fnum = 3 * w * s1 - 2 * s2
        q = ((fnum * 1_000_000) // (w * w) if fnum >= 0
             else -((-fnum * 1_000_000) // (w * w)))
        want[x] = (c[x], s1, s2, fnum, q)
    got = {r.x: (r.y, r.s1num, r.s2num, r.fnum, r.forecast_q)
           for r in entry.q_holt_hours(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# ccf_types
# ---------------------------------------------------------------------------

def test_ccf_types_replay(spark):
    ev = entry._events_micros(spark, SF_DIR).collect()
    per = defaultdict(Counter)
    for r in ev:
        per[r.event_type][int(r.tm) // 3_600_000_000] += 1
    top2 = sorted(per, key=lambda t: (-sum(per[t].values()), t))[:2]
    ca, cb = per[top2[0]], per[top2[1]]
    xs = set(ca) | set(cb)
    x_min, x_max = min(xs), max(xs)
    want = {}
    for lag in range(CCF_MAX_LAG + 1):
        ts = range(x_min + lag, x_max + 1)
        n = len(ts)
        ya = [ca.get(t, 0) for t in ts]
        yb = [cb.get(t - lag, 0) for t in ts]
        sx, sy = sum(ya), sum(yb)
        sxy = sum(a * b for a, b in zip(ya, yb))
        sxx = sum(a * a for a in ya)
        syy = sum(b * b for b in yb)
        num = n * sxy - sx * sy
        dx = n * sxx - sx * sx
        dy = n * syy - sy * sy
        r = (round(num / math.sqrt(dx * dy), 6)
             if dx > 0 and dy > 0 else None)
        want[lag] = (n, num, dx, dy, r)
    got = {r.lag: (r.n, r.num, r.dx, r.dy, r.r)
           for r in entry.q_ccf_types(spark, SF_DIR).collect()}
    assert got == want
    # lag 0 autocomparison sanity: |r| <= 1 everywhere it exists
    for n, num, dx, dy, r in want.values():
        if r is not None:
            assert -1.0 <= r <= 1.0


# ---------------------------------------------------------------------------
# stylometry
# ---------------------------------------------------------------------------

def test_stylometry_replay(spark):
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["source", "text"])
    cnt = defaultdict(Counter)
    glob = Counter()
    for src, text in zip(docs.source, docs.text):
        toks = [t for t in text.lower().strip().split() if t]
        cnt[src].update(toks)
        glob.update(toks)
    vocab = sorted(glob, key=lambda t: (-glob[t], t))[:STYLO_M]
    srcs = sorted(cnt)
    s_cnt = len(srcs)
    f = {(s, t): (cnt[s][t] * STYLO_FSCALE) // sum(cnt[s].values())
         for s in srcs for t in vocab}
    varnum = {}
    for t in vocab:
        fs = [f[(s, t)] for s in srcs]
        v = s_cnt * sum(x * x for x in fs) - sum(fs) ** 2
        if v > 0:
            varnum[t] = v
    want = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            d = sum(((f[(a, t)] - f[(b, t)]) ** 2 * s_cnt * STYLO_TSCALE)
                    // varnum[t] for t in varnum)
            want[(a, b)] = (len(varnum), d)
    got = {(r.src_a, r.src_b): (r.n_w, r.delta_q)
           for r in entry.q_stylometry(spark, SF_DIR).collect()}
    assert got == want
    assert all(d >= 0 for _, d in want.values())


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------

def test_weighted_sample_replay(spark):
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["doc_id", "n_chars"]).sort_values(
        "doc_id")
    tot = int(docs.n_chars.sum())
    cum = 0
    want = []
    for d, w in zip(docs.doc_id, docs.n_chars):
        d, w = int(d), int(w)
        lo = (cum * WS_K) // tot
        cum += w
        hi = (cum * WS_K) // tot
        if hi > lo:
            want.append((d, w, cum, hi))
    got = sorted((r.doc_id, r.w, r.cum, r.slot)
                 for r in entry.q_weighted_sample(spark, SF_DIR).collect())
    assert got == want
    # exactly K selected when no doc spans more than one slot boundary
    if max(int(w) for w in docs.n_chars) <= tot // WS_K:
        assert len(got) == WS_K
    # slots strictly increase with doc order
    slots = [s for *_, s in got]
    assert slots == sorted(slots) and len(set(slots)) == len(slots)


# ---------------------------------------------------------------------------
# containment
# ---------------------------------------------------------------------------

def test_containment_replay(spark):
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["doc_id", "text"])
    sets = {}
    df = Counter()
    for d, text in zip(docs.doc_id, docs.text):
        sh = {text[i:i + NGRAM_W]
              for i in range(max(len(text) - NGRAM_W + 1, 0))}
        sets[int(d)] = sh
        df.update(sh)
    drop = {s for s, c in df.items() if c > NGRAM_DF_CAP}
    sets = {d: sh - drop for d, sh in sets.items()}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            na, nb = len(sets[a]), len(sets[b])
            if inter and na and nb and \
                    inter * CONT_DEN >= CONT_NUM * min(na, nb):
                want[(a, b)] = (inter, na, nb,
                                (inter * 1_000_000) // na,
                                (inter * 1_000_000) // nb)
    got = {(r.id_a, r.id_b): (r.n_inter, r.na, r.nb,
                              r.cont_a_q, r.cont_b_q)
           for r in entry.q_containment(spark, SF_DIR).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# ppr_domains
# ---------------------------------------------------------------------------

def test_ppr_replay(spark):
    pts = entry._points(spark, SF_DIR).collect()
    w = Counter()
    for r in pts:
        src = int(r.domain)
        pid = int(r.url.rsplit("/", 1)[1])
        h = pid * 2654435761 % 2147483648
        for dst in ((h // 131) % N_DOMAINS, (h // 17) % N_DOMAINS):
            if dst != src:
                w[(src, dst)] += 1
    w_tot = Counter()
    for (s, _), c in w.items():
        w_tot[s] += c
    seeds = {v for v in range(N_DOMAINS) if v % BFS_SEED_MOD == 0}
    base = (PR_DEN - PR_NUM) * PR_INIT // PR_DEN
    rank = {v: PR_INIT for v in seeds}
    for _ in range(PR_ITERS):
        inc = Counter()
        for (s, d), c in w.items():
            if s in rank:
                inc[d] += (rank[s] * c) // w_tot[s]
        rank = {v: (base if v in seeds else 0) + (PR_NUM * m) // PR_DEN
                for v, m in inc.items()}
        for v in seeds:
            if v not in rank:
                rank[v] = base
    want = sorted(((v, s) for v, s in rank.items()),
                  key=lambda t: (-t[1], t[0]))[:entry.PPR_TOPK]
    got = [(r.domain, r.score)
           for r in entry.q_ppr_domains(spark, SF_DIR).collect()]
    assert got == want


def test_ppr_seeds_only_when_graph_empty(spark):
    # hand case: a single edge between two non-seed nodes gets no mass;
    # seeds with no in-links keep exactly the teleport base after one
    # round
    from proj_spark.graph import pagerank
    edges = spark.createDataFrame([(5, 6, 1)], "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r.node: r.score for r in pagerank(edges, seeds, iters=2).collect()}
    base = (PR_DEN - PR_NUM) * PR_INIT // PR_DEN
    assert out == {0: base}


# ---------------------------------------------------------------------------
# truss
# ---------------------------------------------------------------------------

def _truss_replay(edges, kval, rounds):
    def support(es):
        adj = defaultdict(set)
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in es}

    alive = set(edges)
    for _ in range(rounds):
        sup = support(alive)
        alive = {e for e in alive if sup[e] >= kval}
    return {e: s for e, s in support(alive).items() if s > 0}


def test_truss_replay(spark):
    pts = entry._points(spark, SF_DIR).collect()
    und = set()
    for r in pts:
        src = int(r.domain)
        pid = int(r.url.rsplit("/", 1)[1])
        h = pid * 2654435761 % 2147483648
        for dst in ((h // 131) % N_DOMAINS, (h // 17) % N_DOMAINS):
            if dst != src:
                a, b = min(src, dst), max(src, dst)
                if (a * 1000003 + b) % TRUSS_SAMPLE_MOD == 0:
                    und.add((a, b))
    # data-derived threshold: mean round-1 support (supported edges
    # only, they're the ones the agg sees) + 1
    def support(es):
        adj = defaultdict(set)
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in es}

    sup1 = {e: s for e, s in support(und).items() if s > 0}
    kval = sum(sup1.values()) // len(sup1) + 1
    want = _truss_replay(und, kval, TRUSS_ROUNDS)
    got = {(r.domain_a, r.domain_b): r.support
           for r in entry.q_truss(spark, SF_DIR).collect()}
    assert got == want


def test_truss_hand_cases(spark):
    from proj_spark.graph import truss_peel, truss_support

    # K4: every edge in 2 triangles; survives kval=2 with support 2
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    und = spark.createDataFrame(k4, "a long, b long")
    k = spark.createDataFrame([(2,)], "kval long")
    out = {(r.a, r.b): r.support
           for r in truss_peel(und, k, rounds=2).collect()}
    assert out == {e: 2 for e in k4}
    # triangle + pendant edge: pendant has support 0 (never appears in
    # the support agg), triangle survives kval=1
    tri = [(0, 1), (0, 2), (1, 2), (2, 3)]
    und = spark.createDataFrame(tri, "a long, b long")
    sup = {(r.a, r.b): r.support
           for r in truss_support(und).collect()}
    assert sup == {(0, 1): 1, (0, 2): 1, (1, 2): 1}
    k1 = spark.createDataFrame([(1,)], "kval long")
    out = {(r.a, r.b): r.support
           for r in truss_peel(und, k1, rounds=2).collect()}
    assert out == {(0, 1): 1, (0, 2): 1, (1, 2): 1}
