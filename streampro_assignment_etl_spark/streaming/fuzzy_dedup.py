"""Streaming fuzzy dedup: cross-batch MinHash-LSH near-dup detection
(``applyInPandasWithState``).

The batch operator (operators/minhash.py) answers "which documents in
this corpus are near-duplicates"; an online training-data pipeline
needs "is this INCOMING document a near-dup of anything ever seen" —
across micro-batches and restarts. This is the fuzzy counterpart of
``stateful_dedup`` (exact fingerprints): state is keyed by LSH band
bucket and holds the (doc_id, signature) list of every document that
ever landed in that bucket, so a new arrival is compared only against
its bucket cohort — the same O(n·bands) candidate bound as the batch
operator, maintained incrementally.

Signature parity: the map-side expression computes EXACTLY the batch
``minhash_signatures`` values (min over shingles of
``xxhash64(seed_i, xxhash64(shingle))``), pinned by a test — so batch
and stream agree on what a near-duplicate is, and a corpus can be
bootstrapped in batch then guarded by the stream.

Scale notes: per bucket, state is that bucket's cohort (buckets are
2^64-sparse, so cohorts are small unless documents genuinely collide)
— but TOTAL state is bands × one (doc_id, k-int signature) row per
document ever seen (~bands × k × 8 B per doc, every doc resident in
all its band buckets forever under the default NoTimeout). Band keys
live in disjoint per-band hash spaces, so the embedding dedup's
store-once/asymmetric-probe bounding does not apply; pass
``ttl_seconds`` to bound state to a recency horizon instead (idle
cohorts evicted). The stream shuffles one (band_hash, doc_id,
signature) row per band per doc. Pair emission happens at the SECOND
document's single arrival batch, so one batch-local ``dropDuplicates``
makes pairs exactly-once without cross-batch pair state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ..operators.minhash import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    DEFAULT_SHINGLE_N,
    word_shingles,
)

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.ArrayType(T.LongType()))),
    ]
)


def signature_array(shingles: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """Per-row MinHash signature as ``array<long>`` — the map-side twin
    of the batch ``minhash_signatures`` explode+groupBy layout (which is
    faster for bulk scans but is a cross-row aggregate; a stream needs
    the signature BEFORE its one stateful hop). Identical values: slot i
    = min over shingles of xxhash64(i, xxhash64(shingle))."""
    hashed = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hashed, lambda h: F.xxhash64(i, h))),
    )


def band_hash_array(
    sig: Column, num_hashes: int = DEFAULT_NUM_HASHES, bands: int = DEFAULT_BANDS
) -> Column:
    """``array<long>`` of LSH band keys — band j hashes its r signature
    slots under seed j, matching the batch ``band_key_rows`` keys."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    return F.array(
        *[
            F.xxhash64(
                F.lit(j), *[F.element_at(sig, j * r + t + 1) for t in range(r)]
            )
            for j in range(bands)
        ]
    )


def _bucket_matcher(
    threshold: float,
    ttl_ms: int | None = None,
    ttl_event_ms: int | None = None,
    ts_field: str | None = None,
):
    """Vectorized per-bucket cohort matcher: cohort signatures as an
    ``(m, k)`` int64 matrix, each batch's ``(n, k)`` block scored with
    ONE broadcasted ``==`` + ``mean`` (agreement fraction ≈ Jaccard).
    The stateful shape — restore edge, arrival-order pair rule, state
    pickle discipline, and the TTL eviction hook — lives once in
    ``_cohort.make_cohort_matcher`` (shared with the embedding dedup).

    State-size note: the signature persists once per band (bands×
    amplification of the k-int payload — ~bands × k × 8 B per doc).
    The embedding dedup's store-once trick does NOT apply here: band
    keys live in disjoint per-band hash spaces (band j's key is seeded
    by j), so there is no "probe another band's bucket" — a doc must
    be resident in every band to be findable through any of them. The
    bounded-state lever for banded MinHash is ``ttl_ms`` (state ∝
    horizon), or fewer/coarser bands."""
    from ._cohort import make_cohort_matcher

    return make_cohort_matcher(
        id_field="doc_id",
        payload_field="sig",
        payload_dtype=np.int64,
        score=lambda A, B: (A[:, None, :] == B[None, :, :]).mean(axis=2),
        threshold=threshold,
        out_a="doc_a",
        out_b="doc_b",
        out_score="est_jaccard",
        ttl_ms=ttl_ms,
        ttl_event_ms=ttl_event_ms,
        ts_field=ts_field,
    )


def fuzzy_dedup_stream(
    doc_stream: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = DEFAULT_SHINGLE_N,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming near-dup pair detector: (doc_a, doc_b, est_jaccard)
    whenever an incoming document's estimated Jaccard (signature
    agreement) against ANY previously-seen same-bucket document reaches
    ``threshold``. One stateful hop: map-side signature + band keys →
    explode bands → groupBy(band_hash) with per-bucket cohort state.
    ``ttl_seconds`` bounds state to a wall-clock recency horizon (idle
    bucket cohorts evicted via ProcessingTimeTimeout — see
    ``_bucket_matcher`` for why TTL, not store-once, is banded
    MinHash's bounding lever); ``ttl_event_seconds`` is the EVENT-time
    per-member horizon over ``ts_col`` (the one that survives backfill
    replay — see the ``_cohort`` module docstring)."""
    if ttl_seconds is not None and ttl_event_seconds is not None:
        raise ValueError("ttl_seconds and ttl_event_seconds are mutually exclusive")
    event_mode = ttl_event_seconds is not None
    if event_mode:
        from ._cohort import require_utc_session

        require_utc_session(doc_stream.sparkSession)
    src = doc_stream
    ts_cols: list[str] = []
    if event_mode:
        src = src.withWatermark(ts_col, watermark_delay)
        ts_cols = [ts_col]
    # Shingle-less docs (< n words) can match nothing: drop them BEFORE
    # the signature, whose slots would otherwise be all-NULL array_min
    # of an empty array (size(sig) is k either way, so filter on the
    # shingle count, not the signature).
    shingled = src.select(
        "doc_id", word_shingles(F.col("text"), shingle_n).alias("_sh"), *ts_cols
    ).filter(F.size("_sh") > 0)
    banded = (
        shingled.select(
            "doc_id", signature_array(F.col("_sh"), num_hashes).alias("sig"), *ts_cols
        )
        .select(
            "doc_id",
            "sig",
            F.explode(band_hash_array(F.col("sig"), num_hashes, bands)).alias(
                "band_hash"
            ),
            *ts_cols,
        )
    )
    if event_mode:
        from ._cohort import with_member_horizons

        timeout = GroupStateTimeout.EventTimeTimeout
        state_schema = with_member_horizons(_STATE_SCHEMA)
    elif ttl_seconds is not None:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
        state_schema = _STATE_SCHEMA
    else:
        timeout = GroupStateTimeout.NoTimeout
        state_schema = _STATE_SCHEMA
    return banded.groupBy("band_hash").applyInPandasWithState(
        _bucket_matcher(
            threshold,
            ttl_ms=None if ttl_seconds is None else ttl_seconds * 1000,
            ttl_event_ms=None if ttl_event_seconds is None else ttl_event_seconds * 1000,
            ts_field=ts_col if event_mode else None,
        ),
        outputStructType=PAIR_SCHEMA,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def run_fuzzy_dedup_stream(
    spark,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = DEFAULT_SHINGLE_N,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a landing dir of docs JSONL through the streaming fuzzy
    dedup into parquet. A pair can surface through several shared
    buckets, always in the ONE batch where its second document arrives,
    so the batch-local dropDuplicates makes pair output exactly-once;
    the batch_id-keyed overwrite keeps checkpoint retries idempotent.
    Drains through ``_drain.drain_stream``: with either TTL lever (wall
    ``ttl_seconds`` / event ``ttl_event_seconds`` over a ``ts`` field)
    the plan holds a timeout, so the drain runs until idle and keeps
    zero-row state-cleanup batches out of the sink."""
    from ._drain import batch_id_writer, drain_stream, read_landing

    schema = "doc_id long, text string"
    if ttl_event_seconds is not None:
        schema += ", ts timestamp"
    pairs = fuzzy_dedup_stream(
        read_landing(spark, schema, landing_dir, "json", max_files_per_trigger),
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        ttl_seconds=ttl_seconds,
        ttl_event_seconds=ttl_event_seconds,
    )
    drain_stream(
        pairs,
        checkpoint_dir,
        batch_id_writer(out_dir, ["doc_a", "doc_b"]),
        mode="update",
        timeout_s=timeout_s,
    )
