"""Structured Streaming jobs: the engine's batch operators re-expressed
as incremental pipelines.

The reference is a batch library (no streaming analogue; SURVEY.md
§1.3), but the engine's ingestion story at 10^12 rows is incremental:
new WARC drops land as files, and the same tile/cell/extraction
operators run as a stream.  These jobs follow the standard shape:

    readStream (file source, schema pinned from the static table)
      -> the SAME transformation functions used in batch
      -> watermarked windowed aggregation / arbitrary stateful op
      -> sink (tested with availableNow + memory sink, deployed with a
         checkpointLocation for exactly-once file->table pipelines)

Because transformations are shared with the batch path, streaming
correctness reduces to "stream result == batch result on the same
files", which is exactly what the tests assert.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, IntegerType,
                               LongType, StringType, StructField,
                               StructType)

from proj_spark.pages import extract_geotags
from proj_spark.spatial import cells


def _streaming_reader(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None):
    static = spark.read.parquet(path)
    reader = (spark.readStream.schema(static.schema)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stream_events_hourly(spark: SparkSession, events_dir: str,
                         watermark: str = "2 hours") -> DataFrame:
    """Per (event_type, hour window) counts with late-data watermarking.

    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and dropped, so state size is O(active
    windows), independent of stream length."""
    ev = _streaming_reader(spark, events_dir)
    # watermarks require TIMESTAMP (with zone); NTZ sources are cast in
    # the session's UTC zone
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (ev.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("hour_start"), "event_type",
                    "n_events"))


def stream_tile_density(spark: SparkSession, pages_dir: str, z: int = 8,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming webmerc tile counts: the batch extraction + tile
    operators applied to a file stream of pages."""
    pages = _streaming_reader(spark, pages_dir, max_files_per_trigger)
    pts = extract_geotags(pages).where(F.col("lat").isNotNull())
    return (pts.select(cells.tile_x(F.col("lon"), z).alias("tile_x"),
                       cells.tile_y(F.col("lat"), z).alias("tile_y"))
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages")))


def stream_tile_pyramid(spark: SparkSession, pages_dir: str,
                        z_max: int = 8, z_min: int = 4,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming multi-zoom tile counts (the serving pyramid, live).

    The batch builder (spatial/pyramid.py) CHAINS per-level aggregations
    — each level reads the previous level's materialized tiles.
    Structured Streaming forbids chained aggregates, so the streaming-
    correct formulation is the other trade: EXPLODE each point to its
    (z_min..z_max) ancestor tiles up front and run ONE aggregation.
    Shuffle volume is (z_max-z_min+1)x the points — the price of a
    single stateful stage — and state is one running count per
    (zoom, tile), bounded by the tile universe, not the stream length.
    """
    if not 0 <= z_min <= z_max <= cells.MAX_Z:
        raise ValueError(f"need 0 <= z_min <= z_max <= {cells.MAX_Z}")
    pages = _streaming_reader(spark, pages_dir, max_files_per_trigger)
    pts = extract_geotags(pages).where(F.col("lat").isNotNull())
    levels = F.array(*[
        F.struct(F.lit(z).alias("zoom"),
                 cells.tile_x(F.col("lon"), z).alias("tile_x"),
                 cells.tile_y(F.col("lat"), z).alias("tile_y"))
        for z in range(z_max, z_min - 1, -1)])
    return (pts.select(F.explode(levels).alias("t"))
            .groupBy(F.col("t.zoom").alias("zoom"),
                     F.col("t.tile_x").alias("tile_x"),
                     F.col("t.tile_y").alias("tile_y"))
            .agg(F.count("*").alias("n")))


_STATE_SCHEMA = StructType([StructField("total", LongType()),
                            StructField("batches", IntegerType())])
_OUT_SCHEMA = StructType([
    StructField("domain", StringType()),
    StructField("total_pages", LongType()),
    StructField("batches_seen", IntegerType()),
])


def stream_domain_running_counts(spark: SparkSession, pages_dir: str,
                                 max_files_per_trigger: int = 1) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-domain
    running page totals across micro-batches — the pattern for
    incremental dedup registries / per-key quotas at ingest time."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pages = _streaming_reader(spark, pages_dir, max_files_per_trigger)
    doms = pages.select(
        F.regexp_extract("url", r"site(\d+)\.", 1).alias("domain"))

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        if state.exists:
            total, batches = state.get
            total += n
            batches += 1
        else:
            total, batches = n, 1
        state.update((total, batches))
        yield pd.DataFrame({"domain": [key[0]], "total_pages": [total],
                            "batches_seen": [batches]})

    return (doms.groupBy("domain")
            .applyInPandasWithState(update, _OUT_SCHEMA, _STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))


_DEDUP_OUT = StructType([
    StructField("url", StringType()),
    StructField("digest", StringType()),
])
_DEDUP_STATE = StructType([StructField("seen", IntegerType()),
                           StructField("emitted_ms", LongType())])


def stream_exact_dedup(spark: SparkSession, pages_dir: str,
                       max_files_per_trigger: int = 1,
                       id_col: str = "url",
                       text_col: str = "text",
                       state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact dedup at ingest: emit each content digest's FIRST
    page only, suppress every later duplicate across micro-batches.

    State is one tombstone per distinct digest (applyInPandasWithState
    keyed by md5(text)) — the incremental registry pattern: at corpus
    scale the state store shards by digest across executors, and the
    per-key record is a single int.  Batch equivalence: the kept set
    equals batch `min_by(url) GROUP BY digest` when files arrive in
    url order (the deterministic single-file-per-trigger test setup).

    `state_ttl_ms` gives the registry TTL semantics: a digest tombstone
    older than the TTL no longer suppresses — the next occurrence is
    treated as first-seen again (emitted, timestamp reset).  At
    10^12-doc scale an unbounded registry is the stateful-op killer;
    the TTL keeps the LOGICAL window bounded, and physical eviction of
    quiet keys belongs to the state store (RocksDB state TTL) — a
    GroupStateTimeout timer is deliberately NOT used because processing
    -time timers never let an availableNow query terminate (the
    "no new data but cleaning up state" loop)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pages = _streaming_reader(spark, pages_dir, max_files_per_trigger)
    keyed = pages.select(F.col(id_col).cast("string").alias("url"),
                         F.md5(F.col(text_col).cast("binary"))
                         .alias("digest"))

    def first_only(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import time as _time
        now_ms = int(_time.time() * 1000)
        if state.exists:
            _, emitted_ms = state.get
            if state_ttl_ms is None or now_ms - emitted_ms <= state_ttl_ms:
                return        # digest already emitted: drop everything
            # tombstone older than the TTL: fall through, re-emit
        first_url = None
        for pdf in pdfs:
            if len(pdf):
                u = pdf["url"].min()   # deterministic within the batch
                first_url = u if first_url is None else min(first_url, u)
        if first_url is None:
            return
        state.update((1, now_ms))
        yield pd.DataFrame({"url": [first_url], "digest": [key[0]]})

    return (keyed.groupBy("digest")
            .applyInPandasWithState(first_only, _DEDUP_OUT, _DEDUP_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_minhash_neardup(spark: SparkSession, docs_dir: str,
                           id_col: str = "doc_id", text_col: str = "text",
                           num_hashes: int = 64, bands: int = 16,
                           shingle: int = 5,
                           max_files_per_trigger: int = 1,
                           state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming near-dup detection at ingest: an LSH band-bucket registry.

    Each document contributes one (band, bucket) row per minhash band via
    the SAME `banded_signatures` relation the batch candidate join uses
    (`text/dedup.py`).  At corpus scale take the density-matched
    (num_hashes, rows_per_band) from `__spark_entry__.mh_params` and
    pass `num_hashes` and `bands = num_hashes // rows_per_band`, so the
    stream registry and the batch join agree on the banding (hot-shingle
    saturation measurements: BASELINE.md round-5).  State is keyed by
    (band, bucket); the FIRST
    document to touch a bucket registers as its representative (one
    string of state per distinct bucket), and every later arrival at an
    occupied bucket emits a candidate pair (doc_id, rep_id, band,
    bucket).  Candidates then feed the exact-Jaccard verify stage, same
    as batch.

    Scale contract: state is O(distinct buckets) x one id — the
    star-graph registry, not the O(bucket^2) pair materialization; the
    state store shards by (band, bucket) across executors.
    `state_ttl_ms` bounds the LOGICAL registry window exactly as in
    `stream_exact_dedup`: a representative older than the TTL no longer
    anchors its bucket — the next arrival re-registers as the new rep
    (physical eviction of quiet keys belongs to RocksDB state TTL in
    deployment; no processing-time timers, so availableNow terminates).

    Batch equivalence (asserted in tests): when files arrive in id order,
    the distinct flagged doc_ids equal the id_b side of the batch
    `minhash_lsh_candidates` pairs on the same files — a document is
    flagged iff some band bucket contains a smaller id.  Ids keep their
    SOURCE type (numeric ids order numerically, matching the batch
    join's `id_a < id_b`); a re-delivered id never pairs with itself.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from proj_spark.text.dedup import banded_signatures

    docs = _streaming_reader(spark, docs_dir, max_files_per_trigger)
    id_type = docs.schema[id_col].dataType
    banded = banded_signatures(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text")),
        text_col="text", id_col="doc_id",
        num_hashes=num_hashes, bands=bands, shingle=shingle)
    out_schema = StructType([
        StructField("doc_id", id_type),
        StructField("rep_id", id_type),
        StructField("band", IntegerType()),
        StructField("bucket", LongType()),
    ])
    state_schema = StructType([StructField("rep", id_type),
                               StructField("emitted_ms", LongType())])

    def register(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import time as _time
        now_ms = int(_time.time() * 1000)
        ids: set = set()
        for pdf in pdfs:
            ids.update(pdf["doc_id"].tolist())
        if not ids:
            return
        rep = None
        if state.exists:
            rep, emitted_ms = state.get
            if state_ttl_ms is not None and now_ms - emitted_ms > state_ttl_ms:
                rep = None            # stale anchor: re-register below
        if rep is None:
            rep = min(ids)            # deterministic within the batch
            state.update((rep, now_ms))
        flagged = sorted(i for i in ids if i != rep)
        if flagged:
            yield pd.DataFrame({
                "doc_id": flagged,
                "rep_id": [rep] * len(flagged),
                "band": [key[0]] * len(flagged),
                "bucket": [key[1]] * len(flagged),
            })

    return (banded.groupBy("band", "bucket")
            .applyInPandasWithState(register, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_simhash_neardup(spark: SparkSession, docs_dir: str,
                           id_col: str = "doc_id", text_col: str = "text",
                           shingle: int = 3,
                           max_files_per_trigger: int = 1,
                           state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming simhash near-dup registry: same star-graph state design
    as `stream_minhash_neardup`, keyed by the 4x16-bit simhash bands
    (pigeonhole: any pair within Hamming distance 3 shares a band).

    Output rows carry both signatures so the exact Hamming verify
    (bit_count(sim XOR rep_sim) <= 3) composes downstream exactly as in
    the batch `simhash_near_dups` operator.  As in the minhash variant,
    ids keep their source type (numeric order preserved), a re-delivered
    id never pairs with itself, and `state_ttl_ms` expires a bucket's
    anchor so the logical registry window stays bounded."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from proj_spark.text.dedup import simhash_udf

    docs = _streaming_reader(spark, docs_dir, max_files_per_trigger)
    id_type = docs.schema[id_col].dataType
    sh = simhash_udf(shingle)
    sig = docs.select(F.col(id_col).alias("doc_id"),
                      sh(F.col(text_col)).alias("sim"))
    banded = sig.select(
        "doc_id", "sim",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("sim"), 16 * i)
                     .bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for i in range(4)
        ])).alias("bk")).select("doc_id", "sim", "bk.band", "bk.key")

    out_schema = StructType([
        StructField("doc_id", id_type),
        StructField("sim", LongType()),
        StructField("rep_id", id_type),
        StructField("rep_sim", LongType()),
        StructField("band", IntegerType()),
    ])
    state_schema = StructType([StructField("rep", id_type),
                               StructField("rep_sim", LongType()),
                               StructField("emitted_ms", LongType())])

    def register(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import time as _time
        now_ms = int(_time.time() * 1000)
        sims: dict = {}
        for pdf in pdfs:
            sims.update(zip(pdf["doc_id"].tolist(), pdf["sim"].tolist()))
        if not sims:
            return
        rep = None
        if state.exists:
            rep, rep_sim, emitted_ms = state.get
            if state_ttl_ms is not None and now_ms - emitted_ms > state_ttl_ms:
                rep = None            # stale anchor: re-register below
        if rep is None:
            rep = min(sims)
            rep_sim = sims[rep]
            state.update((rep, int(rep_sim), now_ms))
        flagged = [(i, s) for i, s in sorted(sims.items()) if i != rep]
        if flagged:
            yield pd.DataFrame({
                "doc_id": [r[0] for r in flagged],
                "sim": [int(r[1]) for r in flagged],
                "rep_id": [rep] * len(flagged),
                "rep_sim": [int(rep_sim)] * len(flagged),
                "band": [key[0]] * len(flagged),
            })

    return (banded.groupBy("band", "key")
            .applyInPandasWithState(register, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


_ASOF_OUT = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("cents", LongType()),
    StructField("click_event_id", LongType()),
    StructField("gap_us", LongType()),
])
_ASOF_STATE = StructType([
    StructField("last_tm", LongType()), StructField("last_id", LongType()),
    StructField("prev_tm", LongType()), StructField("prev_id", LongType()),
])


def stream_asof_enrich(spark: SparkSession, events_dir: str,
                       fact_type: str = "purchase",
                       dim_type: str = "click",
                       max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming as-of enrichment: attach to each fact event the same
    user's most recent strictly-earlier dim event — the incremental
    counterpart of the batch ``temporal.asof_join`` merge plan.

    State per user is two (tm, id) pairs: the best dim seen so far and
    the best strictly-older one (the runner-up matters exactly when a
    fact shares its timestamp with the newest dim, where strict
    semantics must fall back one step).  Within a micro-batch the match
    is a vectorized searchsorted merge (dims and facts each sorted by
    (tm, id); side='left' lands on the greatest dim strictly before the
    fact, with greatest id winning timestamp ties) — no per-row Python.

    Equals the batch as-of join whenever micro-batches are event-time
    ordered per key (time-split file drops, the log-ingest reality);
    asserted against q_asof_join in tests/test_streaming.py.
    """
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from proj_spark import temporal

    ev = _streaming_reader(spark, events_dir, max_files_per_trigger)
    keyed = (ev.where(F.col("event_type").isin(fact_type, dim_type))
             .select("user_id", "event_id",
                     (F.col("event_type") == dim_type).alias("is_dim"),
                     F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
                     temporal.epoch_micros(ev, "ts").alias("tm")))

    def enrich(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            return
        last_tm, last_id, prev_tm, prev_id = (
            state.get if state.exists else (None, None, None, None))
        dims = pdf[pdf["is_dim"]].sort_values(["tm", "event_id"])
        facts = pdf[~pdf["is_dim"]]
        if len(facts):
            dtm = dims["tm"].to_numpy(np.int64)
            did = dims["event_id"].to_numpy(np.int64)
            ftm = facts["tm"].to_numpy(np.int64)
            idx = np.searchsorted(dtm, ftm, side="left") - 1
            got = idx >= 0
            ctm = np.where(got, dtm[np.maximum(idx, 0)], np.int64(0))
            cid = np.where(got, did[np.maximum(idx, 0)], np.int64(0))
            # merge the carried state: it wins when strictly earlier than
            # the fact AND (tm, id)-greater than the in-batch candidate;
            # the runner-up pair covers a state tm tied with the fact.
            for stm, sid in ((last_tm, last_id), (prev_tm, prev_id)):
                if stm is None:
                    continue
                better = (stm < ftm) & (~got | (stm > ctm)
                                        | ((stm == ctm) & (sid > cid)))
                ctm = np.where(better, stm, ctm)
                cid = np.where(better, sid, cid)
                got = got | better
            click = pd.Series(cid, dtype="int64").astype("Int64")
            gap = pd.Series(ftm - ctm, dtype="int64").astype("Int64")
            click[~got] = pd.NA
            gap[~got] = pd.NA
            yield pd.DataFrame({
                "event_id": facts["event_id"].to_numpy(np.int64),
                "user_id": np.full(len(facts), key[0], np.int64),
                "cents": facts["cents"].to_numpy(np.int64),
                "click_event_id": click,
                "gap_us": gap,
            })
        if len(dims):
            # fold into (last, prev): among {batch max, batch runner-up,
            # old last, old prev}, last = greatest (tm, id) pair and
            # prev = greatest pair strictly older than last.
            cands = [(int(dims["tm"].iloc[-1]), int(dims["event_id"].iloc[-1]))]
            older = dims[dims["tm"] < cands[0][0]]
            if len(older):
                cands.append((int(older["tm"].iloc[-1]),
                              int(older["event_id"].iloc[-1])))
            if last_tm is not None:
                cands.append((last_tm, last_id))
            if prev_tm is not None:
                cands.append((prev_tm, prev_id))
            nl = max(cands)
            strict = [c for c in cands if c[0] < nl[0]]
            p = max(strict) if strict else (None, None)
            state.update((nl[0], nl[1], p[0], p[1]))

    return (keyed.groupBy("user_id")
            .applyInPandasWithState(enrich, _ASOF_OUT, _ASOF_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_sessionize(spark: SparkSession, events_dir: str,
                      gap: str = "6 hours",
                      watermark: str = "30 days",
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming sessionization: per-user session windows via the native
    ``F.session_window`` event-time aggregation — the incremental
    counterpart of the batch gaps-and-islands ``temporal.sessionize``.

    The engine merges an event into an open session while its timestamp
    is strictly inside [session_start, last_event + gap); state is
    bounded by the watermark (sessions whose end falls behind
    max(event_time) - watermark finalize and leave state), so memory is
    O(open sessions), independent of stream length.  Boundary semantics
    differ from the batch operator only on a measure-zero set: an
    event at EXACTLY gap after its predecessor starts a new session
    here (window end is exclusive) but stays in-session in the batch
    rule (`diff > gap` breaks); for micro-second event time the
    distinction never fires, asserted stream==batch in
    tests/test_streaming.py.

    Streaming session windows emit in "append" mode only (Spark 4): a
    session row is produced once, when the watermark passes its end —
    exactly-once session records for the production sink.
    """
    ev = _streaming_reader(spark, events_dir, max_files_per_trigger)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (ev.withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                 .alias("sum_cents"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_cents"))


def stream_hll_tiles(spark: SparkSession, pages_dir: str,
                     z: int = 5,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Incremental distinct-domain HLL per tile: the batch sketch
    (proj_spark.sketches) as a stateful streaming operator.

    State per cell is the 256-register array; each micro-batch
    max-merges its rows in (the HLL merge is idempotent and
    commutative, so re-delivered files cannot corrupt the state).
    Emits (cell, s, n_zero) after every update — the same exact-integer
    sufficient statistic the batch query reports, which is what the
    stream==batch test asserts register-for-register."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType

    from proj_spark import sketches as sk
    from proj_spark.text.curation import hash31

    pages = _streaming_reader(spark, pages_dir, max_files_per_trigger)
    pts = extract_geotags(pages).where(F.col("lat").isNotNull())
    keyed = pts.select(
        cells.cell_id(F.col("lon"), F.col("lat"), z).alias("cell"),
        hash31(F.regexp_extract("url", r"site(\d+)\.", 1).cast("long"))
        .alias("h"))

    out_schema = StructType([
        StructField("cell", LongType()),
        StructField("s", LongType()),
        StructField("n_zero", LongType()),
    ])
    state_schema = StructType([
        StructField("regs", ArrayType(IntegerType())),
    ])

    def merge(key, pdfs, state: GroupState):
        regs = np.array(state.get[0], dtype=np.int64) if state.exists \
            else np.zeros(sk.HLL_M, dtype=np.int64)
        for pdf in pdfs:
            h = pdf["h"].to_numpy(dtype=np.int64)
            bucket = h % sk.HLL_M
            w = h // sk.HLL_M
            # bitlength(w) == ceil(log2(w + 1)): exact for w < 2^23
            # (log2 of an exact power of two is exact; otherwise the
            # true value is >= 1e-7 from the nearest integer)
            rho = np.where(
                w == 0, sk.HLL_RHO_MAX,
                sk.HLL_RHO_MAX
                - np.ceil(np.log2(w + 1)).astype(np.int64))
            np.maximum.at(regs, bucket, rho)
        state.update(([int(v) for v in regs],))
        present = regs > 0
        s = int((2 ** (sk.HLL_RHO_MAX - regs[present])).sum()
                + (sk.HLL_M - present.sum()) * 2 ** sk.HLL_RHO_MAX)
        yield pd.DataFrame({"cell": [key[0]], "s": [s],
                            "n_zero": [int(sk.HLL_M - present.sum())]})

    return (keyed.groupBy("cell")
            .applyInPandasWithState(merge, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_corridor_counts(spark: SparkSession, pages_dir: str,
                           waypoints: list[tuple[float, float]],
                           d_km: float,
                           max_files_per_trigger: int | None = None
                           ) -> DataFrame:
    """Streaming corridor/geofence monitor: running per-segment page
    counts + nearest approach within d_km of the route.

    Membership is STATELESS — the same broadcast-literal vector
    cross-track math as the batch operator (spatial/corridor.py),
    evaluated per micro-batch via a stream-static broadcast join gated
    by the exact pruning box.  The only state is the running
    (count, min) per segment: |route| rows, independent of stream
    length.  min-merge is idempotent/commutative, count assumes
    exactly-once file delivery (the parquet source's contract)."""
    from proj_spark.spatial import corridor

    pages = _streaming_reader(spark, pages_dir, max_files_per_trigger)
    pts = extract_geotags(pages).where(F.col("lat").isNotNull())
    segs = spark.createDataFrame(corridor.segment_specs(waypoints, d_km),
                                 corridor.SEG_SCHEMA)
    bbox = ((F.col("lat") >= F.col("lat_lo"))
            & (F.col("lat") <= F.col("lat_hi"))
            & (F.col("lon") >= F.col("lon_lo"))
            & (F.col("lon") <= F.col("lon_hi")))
    cand = (pts.join(F.broadcast(segs), bbox)
            .withColumn("dist_m", F.expr(corridor.dist_sql()))
            .where(F.col("dist_m") <= d_km * 1000.0))
    return (cand.groupBy("seg_id")
            .agg(F.count("*").alias("n_pages"),
                 F.round(F.min("dist_m") / 1000.0, 3).alias("min_km")))


def stream_interval_join(intervals: DataFrame, windows: DataFrame
                         ) -> DataFrame:
    """Streaming time-range join: each arriving interval [a_s, a_e)
    matched against a STATIC window relation (maintenance calendars,
    outage schedules) with the exact overlap.

    Stream-static broadcast join — stateless, append-mode, no
    watermark needed (the static side never changes, so every match is
    final the moment the row arrives).  Interval times are integer
    epoch-µs end to end: identical results under any session timezone,
    and row-for-row equal to the batch interval_join on the same rows
    (tests/test_streaming.py).  `intervals` is a STREAMING relation
    with (event_id long, a_s long, a_e long) — callers project their
    event stream into intervals (e.g. `_streaming_reader(...)` +
    `temporal.epoch_micros`); `windows` is static with
    (win_id long, b_s long, b_e long)."""
    return (intervals.join(F.broadcast(windows),
                           (F.col("a_s") < F.col("b_e"))
                           & (F.col("b_s") < F.col("a_e")))
            .select("event_id", "win_id",
                    (F.least("a_e", "b_e")
                     - F.greatest("a_s", "b_s")).alias("ovl_us")))


_FUNNEL_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("stage", IntegerType()),
    StructField("tm", LongType()),
    StructField("delay_us", LongType()),
])
_FUNNEL_STATE = StructType([StructField("stage", IntegerType()),
                            StructField("t", LongType())])


def stream_funnel(spark: SparkSession, events_dir: str,
                  stages: tuple[str, ...] = ("view", "click", "purchase"),
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming funnel tracker (applyInPandasWithState): a per-user
    state machine advancing through `stages` — each user's state is
    (completed stage count, time of the last completed stage), and a
    row is emitted at every transition with the exact inter-stage
    delay in micros.

    Semantics match the batch `q_funnel_conv` conditional-min chain
    whenever events arrive in event-time order (the crawl-log case):
    the greedy first-match scan and the min-time chain provably pick
    the same events then (asserted against the batch query in
    tests/test_streaming.py).  Out-of-order arrivals degrade greedily
    — a late earlier 'view' cannot retro-open a funnel, which is the
    standard at-ingest tradeoff for O(1) state per user.

    State is 2 ints per user — bounded by |users|, not stream length;
    no watermark needed since the machine only moves forward."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _streaming_reader(spark, events_dir, max_files_per_trigger)
    ev = ev.select("user_id", "event_type",
                   F.unix_micros(F.col("ts").cast("timestamp")).alias("tm"))

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            stage, t = state.get
        else:
            stage, t = 0, -1
        rows = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("tm", kind="mergesort")
        for et, tm in zip(pdf["event_type"], pdf["tm"]):
            if stage < len(stages) and et == stages[stage] and tm > t:
                delay = 0 if stage == 0 else int(tm) - int(t)
                stage += 1
                rows.append((int(key[0]), stage, int(tm), delay))
                t = int(tm)
        state.update((stage, t))
        yield pd.DataFrame(rows, columns=["user_id", "stage", "tm",
                                          "delay_us"])

    return (ev.groupBy("user_id")
            .applyInPandasWithState(update, _FUNNEL_OUT, _FUNNEL_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


_BIGORD_OUT = StructType([
    StructField("l_orderkey", LongType()),
    StructField("qty_c", LongType()),
    StructField("n_items", LongType()),
    StructField("tm", LongType()),
])
_BIGORD_STATE = StructType([
    StructField("qty", LongType()),
    StructField("items", LongType()),
    StructField("fired", IntegerType()),
])


def stream_big_orders(spark: SparkSession, lineitem_dir: str,
                      threshold_c: int = 30_000,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming large-volume-order detector (applyInPandasWithState):
    the incremental counterpart of the batch q_big_orders HAVING gate.
    Per order the state is (running quantity cents, line count, fired
    flag); ONE row is emitted the moment the running total crosses the
    threshold, carrying the exact prefix quantity and the crossing
    line's ship time — the at-ingest alerting semantics a batch HAVING
    can only deliver after the fact.

    Lines are scanned in (ship time, line number) order inside each
    micro-batch, so under in-order file arrival the crossing prefix is
    deterministic and replayable (asserted in tests/test_streaming.py
    against both a pure-Python prefix replay and the batch query's
    order set).  State is 3 ints per OPEN order — bounded by live
    orders, not stream length; no watermark needed since quantities
    only accumulate."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    li = _streaming_reader(spark, lineitem_dir, max_files_per_trigger)
    rows = li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("q"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("tm"))

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            qty, items, fired = state.get
        else:
            qty, items, fired = 0, 0, 0
        out = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["tm", "l_linenumber"], kind="mergesort")
        for q, tm in zip(pdf["q"], pdf["tm"]):
            qty += int(q)
            items += 1
            if not fired and qty >= threshold_c:
                fired = 1
                out.append((int(key[0]), qty, items, int(tm)))
        state.update((qty, items, fired))
        yield pd.DataFrame(out, columns=["l_orderkey", "qty_c",
                                         "n_items", "tm"])

    return (rows.groupBy("l_orderkey")
            .applyInPandasWithState(update, _BIGORD_OUT, _BIGORD_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


_CUSUM_OUT = StructType([
    StructField("event_type", StringType()),
    StructField("hr", LongType()),
    StructField("y", LongType()),
    StructField("g", LongType()),
])
_CUSUM_STATE = StructType([
    StructField("cur_hour", LongType()),
    StructField("cur_cnt", LongType()),
    StructField("g", LongType()),
])


def stream_cusum(spark: SparkSession, events_dir: str,
                 k: int = 4, thr: int = 12,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming Page's CUSUM rate-shift detector per event type: the
    online counterpart of the batch q_cusum_hours scan.  Per type the
    recursion g_h = max(0, g_{h-1} + (y_h - k)) accumulates excess
    hourly volume over the allowance k; an alarm row is emitted the
    hour g crosses `thr` (then g restarts at 0) — at-ingest rate-shift
    alerting where the batch scan statistic only localizes the change
    after the fact.

    An hour is FINALIZED only when a later hour arrives for that type
    (the trailing partial hour stays pending in state), and skipped
    hours finalize as exact zeros — so under in-order arrival the
    alarm sequence is deterministic and equals the pure-Python replay
    asserted in tests/test_streaming.py regardless of micro-batch
    boundaries (a batch may split an hour; the pending (hour, count)
    pair carries across).  State is 3 ints per event type — O(#types),
    not stream length; no watermark needed since processing is
    strictly hour-monotone."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _streaming_reader(spark, events_dir, max_files_per_trigger)
    rows = ev.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp"))
        .alias("tm"))

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            cur_hour, cur_cnt, g = state.get
        else:
            cur_hour, cur_cnt, g = None, 0, 0
        out = []

        def finalize(h: int, y: int, g: int) -> int:
            g = max(0, g + (y - k))
            if g >= thr:
                out.append((key[0], int(h), int(y), int(g)))
                g = 0
            return g

        pdf = pd.concat(list(pdfs), ignore_index=True)
        hrs = (pdf["tm"] // 3_600_000_000).astype("int64")
        for h, y in sorted(Counter(hrs).items()):
            h, y = int(h), int(y)
            if cur_hour is None:
                cur_hour, cur_cnt = h, y
            elif h == cur_hour:
                cur_cnt += y
            else:
                g = finalize(cur_hour, cur_cnt, g)
                for empty in range(cur_hour + 1, h):
                    g = finalize(empty, 0, g)
                cur_hour, cur_cnt = h, y
        state.update((cur_hour, cur_cnt, g))
        yield pd.DataFrame(out, columns=["event_type", "hr", "y", "g"])

    return (rows.groupBy("event_type")
            .applyInPandasWithState(update, _CUSUM_OUT, _CUSUM_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


def run_to_memory(stream_df: DataFrame, name: str,
                  mode: str = "complete") -> None:
    """Drain a streaming DataFrame into an in-memory table (tests /
    interactive debugging); blocks until all available data is done."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()


_EWMA_OUT = StructType([
    StructField("x", LongType()),
    StructField("y", LongType()),
    StructField("num", LongType()),
    StructField("ratio_q", LongType()),
    StructField("burst", BooleanType()),
])
_EWMA_STATE = StructType([
    StructField("first_hour", LongType()),
    StructField("cur_hour", LongType()),
    StructField("cur_cnt", LongType()),
    StructField("win", ArrayType(LongType())),
])


def stream_ewma_burst(spark: SparkSession, events_dir: str,
                      k_window: int = 20, burst_q: int = 3_000_000,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming dyadic-EWMA burst detector over the global hourly
    event volume: the incremental counterpart of the batch
    q_ewma_hours screen (baseline = exponentially-weighted mean of the
    `k_window` prior hours with weights 2^(K-k), burst = count >= 3x
    baseline as the exact floored micro-ratio).

    Per-hour finalize-pending semantics shared with stream_cusum: an
    hour is emitted only when a LATER hour's event arrives (possibly
    batches later), skipped hours contribute exact zeros to the
    rolling window, and the trailing partial hour stays pending.
    Emission matches the batch gates: only observed hours (y >= 1) at
    least K hours after the first, with the identical BIGINT
    numerator — so under in-order arrival stream rows == batch rows
    (minus the never-finalized last hour; asserted in tests).

    State is (first_hour, cur_hour, cur_cnt, K-slot window) — O(K)
    per key regardless of stream length.  The series is global, so
    there is ONE key: at web scale the pre-aggregation would ride a
    windowed count upstream; here events are tiny relative to the
    hourly rollup and the single-task state op matches the batch
    semantics exactly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _streaming_reader(spark, events_dir, max_files_per_trigger)
    rows = ev.select(
        F.lit(0).alias("g"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(3_600_000_000)).cast("long").alias("x"))

    K = k_window
    wsum = (1 << K) - 1

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            first, cur, pend, win = state.get
            win = list(win)
        else:
            first, cur, pend, win = None, None, 0, [0] * K
        out = []

        def finalize_and_advance(nxt_hour):
            # emit cur (if observed + past warmup), roll the window
            # forward hour by hour with exact zeros for gaps
            nonlocal cur, pend, win
            while cur < nxt_hour:
                y = pend
                if y > 0 and cur - first >= K:
                    num = sum(c << i for i, c in enumerate(win))
                    # num == 0 (entire K-hour window empty, i.e. a
                    # >= K-hour gap) matches NO batch row: q_ewma_hours
                    # inner-joins the series onto the nonzero-baseline
                    # relation, so the stream must not emit it either
                    if num > 0:
                        ratio = (y * wsum * 1_000_000) // num
                        out.append((cur, y, num, ratio,
                                    bool(ratio >= burst_q)))
                win = win[1:] + [y]
                pend = 0
                cur += 1

        pdf = pd.concat(list(pdfs), ignore_index=True)
        for x in sorted(int(v) for v in pdf["x"]):
            if first is None:
                first, cur = x, x
            if x == cur:
                pend += 1
            elif x > cur:
                finalize_and_advance(x)
                pend = 1
        state.update((first, cur, pend, win))
        yield pd.DataFrame(out, columns=["x", "y", "num",
                                         "ratio_q", "burst"])

    return (rows.groupBy("g")
            .applyInPandasWithState(update, _EWMA_OUT, _EWMA_STATE,
                                    "append", GroupStateTimeout.NoTimeout)
            .select("x", "y", "num", "ratio_q", "burst"))
