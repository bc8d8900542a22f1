"""Streaming embedding near-dup detection: cross-batch cosine dedup
over SRP-LSH bucket cohorts (``applyInPandasWithState``).

The embedding counterpart of ``fuzzy_dedup`` (text MinHash cohorts):
an online pipeline asks "is this INCOMING vector a near-duplicate
(cosine ≥ τ) of anything ever seen" — across micro-batches and
restarts. State is keyed by the vector's SRP-LSH bucket (the SAME
deterministic ±1 hyperplanes as the batch ``lsh_topk`` /
``embedding_near_dup_cells`` family, ``operators/similarity.py
hyperplanes``/``srp_bucket``, so batch and stream agree on the bucket
geometry) and holds the (vec_id, unit vector) cohort that ever landed
there; an arrival is compared only against its cohort — one numpy
matrix product per bucket per batch, no Python loop over rows or
cohort members.

Store-once asymmetric multiprobe (round 9; the round-8 design stored
every vector under its bucket AND all 1-bit flips — n_planes+1 full
float64 copies per vector, forever): each vector is persisted under
its BASE bucket only, and recall comes from widening the PROBE ring
instead — an arrival visits every bucket within Hamming distance
``probe_radius`` of its base (radius 2 ⇒ 1 + n + n(n-1)/2 transient
probe rows) but only the base row updates state. A pair is emitted
iff one side's base bucket lies in the other side's probe ring, i.e.
base buckets within Hamming ``probe_radius`` — for the default
radius 2 that is EXACTLY the old symmetric-1-flip collision rule
(Hamming(a,b) ≤ 2), same recall, 1/(n_planes+1) the state. Probe rows
are shuffle cost, not state cost. ``probe_radius=1`` trades recall
(Hamming ≤ 1 collisions only) for an (n_planes+1)/(1+n+C(n,2))×
smaller shuffle; the measured recall gap is in SCALE.md.

State size, exactly: one (vec_id, 64-dim float64 unit vector) row per
finite-norm vector ever seen — ~520 B/vector, so 10⁹ vectors ≈ 0.5 TB
across the state store (vs 3.6 TB for the round-8 symmetric layout).
Two further bounding levers compose with store-once:
``quantize_state=True`` halves the payload (float32 state — the
emission predicate becomes cosine-of-quantized-vectors, see
``_STATE_SCHEMA_F32`` for the exact trade), and ``ttl_seconds``
EVICTS bucket cohorts idle past the horizon via
``ProcessingTimeTimeout`` (shared machinery with
``stateful_dedup.dedup_stream(ttl_seconds=)``), bounding state by the
horizon's distinct-bucket volume — the "dedup against the last T of stream"
contract, exact inside its horizon. ``ttl_event_seconds`` is the same
horizon in EVENT time (per-member eviction against the watermark over
``ts_col`` — the variant that still means "last T of stream" when a
month of history is replayed at full throughput; see the ``_cohort``
module docstring for the replay-determinism contract).

A pair that collides through both orientations of the probe rule is
emitted in each bucket; the runner's batch-local ``dropDuplicates``
makes output exactly-once (the second vector's one arrival batch is
the only batch that can emit the pair).

Cosine is computed EXACTLY on the stored vectors (not an LSH
estimate): the bucket bound is the candidate filter, the emission
predicate is exact — same two-stage contract as every batch dedup in
this repo. (Exact-float64 under the default; ``quantize_state`` keeps
the same two-stage structure with float32-quantized stored vectors.)
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ..operators.similarity import (
    DEFAULT_PLANES,
    _as_double,
    _finite_positive,
    hyperplanes,
    norm,
    srp_bucket,
)

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("vec_a", T.LongType()),
        T.StructField("vec_b", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("vecs", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)

# quantize_state=True stores unit vectors as float32 — half the state
# bytes again on top of store-once (~260 B/vector at dim 64). The trade:
# cosine is then computed on float32-quantized vectors, so the emission
# predicate moves from exact-float64 cosine to cosine-within-~1e-6 —
# a pair whose true cosine sits within ~2⁻²³·√d of the threshold can
# flip relative to the batch reference. Pick it when state size is the
# binding constraint and the threshold has slack; the float64 default
# keeps the exact-emission contract.
_STATE_SCHEMA_F32 = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("vecs", T.ArrayType(T.ArrayType(T.FloatType()))),
    ]
)


def _state_schema(quantize_state: bool, event_ttl: bool) -> T.StructType:
    """Event-horizon mode rides each member's event time in the state
    value (``lasts``, parallel to ``ids``) — the per-member expiry
    prune must read the horizons back on every visit; the registered
    timeout timestamp alone isn't visible to the state function. The
    layout (name, type, position read back as ``state.get[2]``) is
    ``_cohort.with_member_horizons``'s contract, shared with
    ``fuzzy_dedup``."""
    base = _STATE_SCHEMA_F32 if quantize_state else _STATE_SCHEMA
    if not event_ttl:
        return base
    from ._cohort import with_member_horizons

    return with_member_horizons(base)


def probe_masks(n_planes: int, probe_radius: int) -> list[int]:
    """XOR masks for the Hamming ball of ``probe_radius`` around a
    bucket: [0] ∪ single bits ∪ bit pairs ∪ … — 1 + C(n,1) + …
    + C(n,radius) masks, all distinct, so a vector visits each probe
    bucket exactly once."""
    if not 0 <= probe_radius <= n_planes:
        raise ValueError(f"probe_radius must be in [0, {n_planes}]")
    masks = [0]
    for r in range(1, probe_radius + 1):
        masks.extend(
            sum(1 << j for j in bits) for bits in combinations(range(n_planes), r)
        )
    return masks


def _cohort_matcher(
    threshold: float,
    ttl_ms: int | None = None,
    ttl_event_ms: int | None = None,
    ts_field: str | None = None,
    payload_dtype: type = np.float64,
):
    """Per-bucket cosine matcher: cohort unit vectors as an ``(m, d)``
    matrix, each batch's ``(n, d)`` block scored with ONE matrix
    product (unit vectors ⇒ dot IS cosine). ``payload_dtype=float32``
    is the quantized-state option (see ``_STATE_SCHEMA_F32``). The
    stateful shape — and the store-once / TTL policy hooks — live once
    in ``_cohort.make_cohort_matcher`` (shared with the MinHash fuzzy
    dedup)."""
    from ._cohort import make_cohort_matcher

    return make_cohort_matcher(
        id_field="vec_id",
        payload_field="unit",
        payload_dtype=payload_dtype,
        score=lambda A, B: A @ B.T,
        threshold=threshold,
        out_a="vec_a",
        out_b="vec_b",
        out_score="cos_sim",
        store_field="is_base",
        ttl_ms=ttl_ms,
        ttl_event_ms=ttl_event_ms,
        ts_field=ts_field,
    )


def embedding_dedup_stream(
    vec_stream: DataFrame,
    threshold: float = 0.9,
    n_planes: int = DEFAULT_PLANES,
    dim: int = 64,
    probe_radius: int = 2,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
    quantize_state: bool = False,
) -> DataFrame:
    """Streaming near-dup pair detector over embeddings:
    (vec_a, vec_b, cos_sim) whenever an incoming vector's EXACT cosine
    against any previously-seen cohort vector reaches ``threshold``.
    One stateful hop: map-side unit-normalize + SRP bucket (JVM
    expressions) → explode the Hamming-``probe_radius`` probe ring
    (only the radius-0 row persists, see module docstring) →
    per-bucket cohort state. Zero/NaN/inf-norm vectors are dropped
    map-side, like every batch similarity path; a row whose embedding
    LENGTH differs from ``dim`` fails the query loudly (``zip_with``
    against the hyperplanes would otherwise null-pad every plane dot
    and silently funnel the whole stream into bucket 0's cohort).

    Horizon levers (mutually exclusive): ``ttl_seconds`` is the
    wall-clock cohort TTL (``ProcessingTimeTimeout``);
    ``ttl_event_seconds`` is the EVENT-time horizon over ``ts_col``
    (watermarked with ``watermark_delay``) — the one that still means
    "last T of stream" under backfill replay, with replay-deterministic
    surviving state (see ``_cohort`` module docstring)."""
    if ttl_seconds is not None and ttl_event_seconds is not None:
        raise ValueError("ttl_seconds and ttl_event_seconds are mutually exclusive")
    event_mode = ttl_event_seconds is not None
    if event_mode:
        from ._cohort import require_utc_session

        require_utc_session(vec_stream.sparkSession)
    planes = hyperplanes(dim, n_planes)
    v = _as_double("embedding")
    # The dim guard lives INSIDE the load-bearing norm expression (an
    # unused assert_true column would be pruned by Catalyst and never
    # evaluated): a mis-sized row hits raise_error instead of letting
    # zip_with null-pad every plane dot to bucket 0. A NULL embedding
    # (missing field / PERMISSIVE-parse debris) is NOT a dim error —
    # it flows to norm(NULL)=NULL and the finite filter drops it, same
    # as before; only a genuinely mis-sized ARRAY fails the query.
    guarded_norm = F.when(
        F.col("embedding").isNull() | (F.size("embedding") == dim), norm(v)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding length != dim={dim} for vec_id "),
                F.col("vec_id").cast("string"),
            )
        )
    )
    src = vec_stream
    ts_cols: list[str] = []
    if event_mode:
        src = src.withWatermark(ts_col, watermark_delay)
        ts_cols = [ts_col]
    base = (
        src.select("vec_id", v.alias("_v"), guarded_norm.alias("_n"), *ts_cols)
        .filter(_finite_positive(F.col("_n")))
        .select(
            "vec_id",
            F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias("unit"),
            srp_bucket(F.col("_v"), planes).alias("_b"),
            *ts_cols,
        )
    )
    flips = F.array(*[F.lit(m) for m in probe_masks(n_planes, probe_radius)])
    rows = base.select(
        "vec_id",
        "unit",
        F.explode(
            F.transform(flips, lambda f: F.struct(
                F.col("_b").bitwiseXOR(f).alias("bucket"), (f == 0).alias("is_base")
            ))
        ).alias("_p"),
        *ts_cols,
    ).select("vec_id", "unit", "_p.bucket", "_p.is_base", *ts_cols)
    if event_mode:
        timeout = GroupStateTimeout.EventTimeTimeout
    elif ttl_seconds is not None:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    return rows.groupBy("bucket").applyInPandasWithState(
        _cohort_matcher(
            threshold,
            ttl_ms=None if ttl_seconds is None else ttl_seconds * 1000,
            ttl_event_ms=None if ttl_event_seconds is None else ttl_event_seconds * 1000,
            ts_field=ts_col if event_mode else None,
            payload_dtype=np.float32 if quantize_state else np.float64,
        ),
        outputStructType=PAIR_SCHEMA,
        stateStructType=_state_schema(quantize_state, event_mode),
        outputMode="update",
        timeoutConf=timeout,
    )


def run_embedding_dedup_stream(
    spark,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    n_planes: int = DEFAULT_PLANES,
    dim: int = 64,
    probe_radius: int = 2,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    quantize_state: bool = False,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a landing dir of vector JSONL ({vec_id, embedding:[...]})
    through the streaming embedding dedup into parquet. Multiprobe can
    surface a pair through several shared buckets, always in the ONE
    batch where its second vector arrives — batch-local dropDuplicates
    makes pair output exactly-once; the batch_id-keyed overwrite keeps
    checkpoint retries idempotent. With ``ttl_seconds`` (wall horizon)
    or ``ttl_event_seconds`` (event horizon over a ``ts`` field in the
    JSONL) the query drains until idle instead of awaiting termination
    (same machinery as ``stateful_dedup.run_dedup_stream``)."""
    from ._drain import drain_available_now, make_pair_sink_writer

    fields = [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
    if ttl_event_seconds is not None:
        fields.append(T.StructField("ts", T.TimestampType()))
    src_schema = T.StructType(fields)
    reader = spark.readStream.schema(src_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(landing_dir)
    pairs = embedding_dedup_stream(
        stream,
        threshold=threshold,
        n_planes=n_planes,
        dim=dim,
        probe_radius=probe_radius,
        ttl_seconds=ttl_seconds,
        ttl_event_seconds=ttl_event_seconds,
        quantize_state=quantize_state,
    )

    any_ttl = ttl_seconds is not None or ttl_event_seconds is not None
    q = (
        pairs.writeStream.outputMode("update")
        .foreachBatch(
            make_pair_sink_writer(out_dir, ["vec_a", "vec_b"], skip_empty=any_ttl)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, timeout_s, ttl=any_ttl)
