"""Custom stateful streaming operator: cross-batch exact dedup
(``applyInPandasWithState``).

The batch dedup operators (queries/extensions.py, operators/minhash.py)
answer "what is duplicated in this corpus"; a streaming training-data
pipeline needs the online form — "have I EVER seen this document
before" — across micro-batches and restarts. Spark has no built-in for
that (``dropDuplicates`` on a stream needs watermark-bounded state and
forgets), so this is the applyInPandasWithState case: state is keyed
by content fingerprint, lives in the state store, and survives
checkpoint restarts.

Scale properties: state per DISTINCT fingerprint is one int; the
stream shuffles by fingerprint (same key-width argument as batch
fingerprint dedup); keys never expire (NoTimeout) because "seen
before" has no horizon. For 100 TB key spaces the sharded BLOOM
variant below (``dedup_stream_bloom``) bounds total state to
n_shards fixed-size filters at a small false-positive cost — same
operator shape, different state schema. Every layout now has a
horizon lever: fine-grained wall-clock (``dedup_stream_ttl``) and
event-time (``dedup_stream_event_ttl``), sharded event-time
(``dedup_stream_sharded_event_ttl``, exact per-member horizons), and
bloom event-time (``dedup_stream_bloom_event_ttl``, generational
rotation) — event horizons are the ones that survive backfill
replay; see each builder.

API note: Spark 4's successor API (``transformWithStateInPandas`` —
typed ValueState/ListState/MapState, native state TTL, timers) is the
forward path for these operators, but its Python driver worker needs
``google.protobuf`` (absent here; probed — the runner crashes importing
StateMessage_pb2) and mandates the RocksDB state-store provider, so
this module stays on ``applyInPandasWithState``, which expresses the
same semantics on the default provider with no extra deps.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("seen", T.IntegerType())])


def fingerprinted(docs: DataFrame) -> DataFrame:
    """Attach the normalized-content md5 (same normalization as the
    batch `dedup_fingerprint` query, so batch and stream agree on what
    a duplicate is)."""
    fp = F.md5(F.lower(F.regexp_replace("text", r"[ \t\n\r\f\x0B]+", " ")))
    return docs.select("doc_id", "text", fp.alias("fingerprint"))


def _emit_first_unseen(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per fingerprint: emit the lowest-doc_id row the FIRST time the
    fingerprint is ever seen; afterwards (same batch or any later one)
    emit nothing. State = a single 'seen' flag."""
    if state.exists:
        return
    best: pd.DataFrame | None = None
    for pdf in pdfs:
        cand = pdf.nsmallest(1, "doc_id")
        if best is None or cand["doc_id"].iloc[0] < best["doc_id"].iloc[0]:
            best = cand
    if best is not None:
        state.update((1,))
        yield best[["doc_id", "text", "fingerprint"]]


def dedup_stream(doc_stream: DataFrame) -> DataFrame:
    """Streaming exact-dedup: one output row per never-before-seen
    fingerprint, state persisted across micro-batches via the
    checkpointed state store."""
    return (
        fingerprinted(doc_stream)
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _emit_first_unseen,
            outputStructType=DOC_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Built-in counterpart: event-time-bounded dedup via watermark.
# ---------------------------------------------------------------------------
def dedup_stream_watermarked(
    doc_stream: DataFrame, ts_col: str, delay: str = "1 hour"
) -> DataFrame:
    """The BUILT-IN horizon-bounded dedup, for streams that carry an
    event-time column: ``withWatermark(ts) + dropDuplicatesWithinWatermark``
    — state for a fingerprint is evicted once the watermark passes its
    event time + delay, entirely JVM-side (no Python state function at
    all; prefer this whenever the data has event time). The custom
    operators in this module exist for what it can't express: dedup on
    CONTENT irrespective of time with unbounded (``dedup_stream``),
    wall-clock-bounded (``dedup_stream_ttl``), sharded-exact, or
    bloom-bounded state, min-doc_id in-batch selection, and emit-once
    "first ever seen" semantics rather than "no duplicate within the
    watermark delay"."""
    fp = F.md5(F.lower(F.regexp_replace("text", r"[ \t\n\r\f\x0B]+", " ")))
    return (
        doc_stream.withColumn("fingerprint", fp)  # keep ts_col for the watermark
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


# ---------------------------------------------------------------------------
# TTL variant: recency-horizon dedup with state EVICTION.
# ---------------------------------------------------------------------------
def _make_emit_unseen_ttl(ttl_ms: int):
    """Fine-grained dedup state with a processing-time TTL: a
    fingerprint's state is EVICTED after ``ttl_ms`` without arrivals, so
    total state is bounded by the distinct-key volume of the horizon,
    not of the stream's lifetime. A duplicate arriving inside the
    horizon refreshes it (last-seen semantics — hot boilerplate stays
    suppressed for as long as it keeps arriving); one arriving after
    eviction is re-admitted as new, which is the contract: "dedup
    against the last T of stream", the bounded-state policy that stays
    EXACT inside its horizon (the bloom variant is the complementary
    trade: unbounded horizon, approximate membership)."""

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Timeout invocations carry no data rows; drop the key.
            state.remove()
            return
        if state.exists:
            state.setTimeoutDuration(ttl_ms)  # refresh the horizon
            return
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.nsmallest(1, "doc_id")
            if best is None or cand["doc_id"].iloc[0] < best["doc_id"].iloc[0]:
                best = cand
        if best is not None:
            state.update((1,))
            state.setTimeoutDuration(ttl_ms)
            yield best[["doc_id", "text", "fingerprint"]]

    return emit


def dedup_stream_ttl(doc_stream: DataFrame, ttl_seconds: int) -> DataFrame:
    """Streaming exact dedup bounded by a recency horizon: same output
    contract as ``dedup_stream`` inside the horizon, state evicted via
    ``ProcessingTimeTimeout`` after ``ttl_seconds`` without arrivals.
    Timeouts fire at micro-batch boundaries for keys WITHOUT data in
    that batch, so eviction latency is horizon + one batch."""
    return (
        fingerprinted(doc_stream)
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _make_emit_unseen_ttl(ttl_seconds * 1000),
            outputStructType=DOC_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# EVENT-time TTL variant: the horizon that survives backfill replay.
# ---------------------------------------------------------------------------
_EVENT_TTL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen", T.IntegerType()),
        T.StructField("last_ms", T.LongType()),  # max event time seen, epoch ms
    ]
)


def _pdf_max_event_ms(pdf: pd.DataFrame, ts_col: str) -> int:
    """Max event time of a pandas batch slice as epoch ms.
    ``pd.Timestamp.value`` is nanoseconds regardless of the frame's
    datetime64 resolution, so this is Arrow-resolution-proof. Exact
    only under the UTC session ``dedup_stream_event_ttl`` enforces —
    the worker sees tz-naive timestamps rendered in the session zone,
    and the watermark/timeout APIs speak true epoch ms."""
    return int(pd.Timestamp(pdf[ts_col].max()).value // 1_000_000)


def _make_emit_unseen_event_ttl(ttl_ms: int, ts_col: str):
    """Dedup state bounded by an EVENT-time horizon: a fingerprint is a
    duplicate iff its stored max-event-time + ttl is still ahead of the
    WATERMARK — wall-clock plays no part, so replaying a month of
    history at full throughput (the 100 TB backfill recovery mode)
    reproduces the same admit/suppress decisions as the original run.
    Decisions key off the watermark directly, not off whether the
    timeout has FIRED yet (firing lags one batch): an arrival whose
    stored horizon the watermark has already passed is re-admitted as
    new even if the eviction sweep hasn't reached the key — that is
    what makes one-batch and many-batch replays of the same files
    converge to the same state (pinned in tests)."""

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Watermark passed the stored horizon and the key had no
            # data this batch: evict.
            state.remove()
            return
        best: pd.DataFrame | None = None
        max_ms: int | None = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = _pdf_max_event_ms(pdf, ts_col)
            max_ms = m if max_ms is None else max(max_ms, m)
            cand = pdf.nsmallest(1, "doc_id")
            if best is None or cand["doc_id"].iloc[0] < best["doc_id"].iloc[0]:
                best = cand
        if best is None or max_ms is None:
            return
        wm = state.getCurrentWatermarkMs()
        if state.exists and int(state.get[1]) + ttl_ms > wm:
            # Inside the horizon: duplicate. Refresh to the max event
            # time EVER seen (a late-but-valid row must not shrink the
            # horizon).
            new_last = max(int(state.get[1]), max_ms)
            state.update((1, new_last))
            state.setTimeoutTimestamp(new_last + ttl_ms)
            return
        # Never seen — or stored horizon already behind the watermark
        # (expired-on-paper even if the timeout hasn't fired): admit as
        # new. The watermark filter drops rows at-or-below wm before
        # they reach this function, so max_ms > wm and the new timeout
        # is always settable (> watermark).
        state.update((1, max_ms))
        state.setTimeoutTimestamp(max_ms + ttl_ms)
        yield best[["doc_id", "text", "fingerprint"]]

    return emit


def dedup_stream_event_ttl(
    doc_stream: DataFrame,
    ts_col: str,
    ttl_event_seconds: int,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming exact dedup bounded by an EVENT-time horizon:
    "duplicate of anything whose event time is within the last
    ``ttl_event_seconds`` of stream time", where stream time is the
    watermark over ``ts_col``. This is the horizon that means something
    under backfill replay — ``dedup_stream_ttl``'s
    ``ProcessingTimeTimeout`` is a WALL-CLOCK horizon, and reprocessing
    a month of history in an hour evicts nothing meaningful (the whole
    month fits inside any realistic wall horizon), while this variant
    reproduces the original admit/evict sequence because event time
    replays identically. ``watermark_delay`` is the out-of-orderness
    allowance (rows later than that are dropped by the engine before
    the state function). Eviction latency: a key's state drops on the
    first batch after the watermark passes last_event + ttl in which
    the key has no data."""
    from ._cohort import require_utc_session

    require_utc_session(doc_stream.sparkSession)
    fp = F.md5(F.lower(F.regexp_replace("text", r"[ \t\n\r\f\x0B]+", " ")))
    return (
        doc_stream.withColumn("fingerprint", fp)
        .withWatermark(ts_col, watermark_delay)
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _make_emit_unseen_event_ttl(ttl_event_seconds * 1000, ts_col),
            outputStructType=DOC_SCHEMA,
            stateStructType=_EVENT_TTL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Sharded EXACT state variant: vectorize away the per-key Python call.
# ---------------------------------------------------------------------------
_SHARD_EXACT_STATE_SCHEMA = T.StructType(
    [T.StructField("fps", T.ArrayType(T.StringType()))]
)


def _emit_shard_unseen(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per fingerprint-hash shard: emit each batch's min-doc_id row per
    never-before-seen fingerprint; state is the shard's exact seen-set
    (``array<string>``). One pandas sort + drop_duplicates + isin per
    shard per batch — the whole batch slice is vectorized, matching the
    fine-grained operator's semantics (min doc_id within the batch,
    first batch wins) bit-for-bit."""
    seen: list[str] = list(state.get[0]) if state.exists else []
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        state.update((seen,))
        return
    batch = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    batch = batch.sort_values("doc_id", kind="stable").drop_duplicates(
        "fingerprint", keep="first"
    )
    fresh = batch[~batch["fingerprint"].isin(set(seen))]
    # Plain-str state (numpy scalars poison the state pickle JVM-side).
    state.update((seen + [str(f) for f in fresh["fingerprint"]],))
    if len(fresh):
        yield fresh[["doc_id", "text", "fingerprint"]]


def dedup_stream_sharded(doc_stream: DataFrame, n_shards: int = 64) -> DataFrame:
    """Streaming exact-dedup with SHARDED exact state: fingerprints hash
    into ``n_shards`` key ranges, each holding its exact seen-set, so a
    micro-batch pays ``n_shards`` vectorized state calls instead of one
    Python call per distinct fingerprint (the fine-grained operator's
    per-key cost: ~30 µs × |batch keys| of interpreter overhead, the
    dominant term once the arithmetic is vectorized).

    Same output as ``dedup_stream`` — exact, min-doc_id-per-batch,
    first-batch-wins (a pytest pins the equivalence). The trade is state
    I/O shape, not correctness: fine-grained state reads/writes ONLY the
    keys present in a batch (total state can be billions of keys; a
    batch touches its own), while a shard's whole seen-set is
    deserialized and rewritten every batch that touches it. Pick by
    batch-distinct-to-total-key ratio: high-churn firehoses with modest
    total key space → sharded; huge cold key spaces with sparse batches
    → fine-grained (or the bounded-state bloom below, which keeps the
    shard shape but O(1) state per shard)."""
    shard = F.abs(F.xxhash64("fingerprint")) % n_shards
    return (
        fingerprinted(doc_stream)
        .withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandasWithState(
            _emit_shard_unseen,
            outputStructType=DOC_SCHEMA,
            stateStructType=_SHARD_EXACT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Sharded EXACT state with an EVENT-time horizon: the firehose shape
# with the horizon that survives backfill replay.
# ---------------------------------------------------------------------------
_SHARD_EVENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("fps", T.ArrayType(T.StringType())),
        T.StructField("lasts", T.ArrayType(T.LongType())),  # per-member max event ms
    ]
)


def _batch_event_ms(batch: pd.DataFrame, ts_col: str) -> pd.Series:
    """Event times of a pandas batch as epoch ms, vectorized and
    Arrow-resolution-proof (datetime64[us] deliveries are upcast to ns
    before the integer view). Exact only under the UTC session the
    event-TTL builders enforce — same contract as ``_pdf_max_event_ms``."""
    return (
        pd.to_datetime(batch[ts_col]).astype("datetime64[ns]").astype("int64")
        // 1_000_000
    )


def _make_emit_shard_unseen_event_ttl(ttl_ms: int, ts_col: str):
    """Sharded seen-set with PER-MEMBER event-time horizons: each
    fingerprint carries its max event time; every visit prunes members
    whose time + ttl is behind the WATERMARK before the membership
    test, so admit/suppress decisions replay identically whether a
    backfill runs as one batch or many (the wall-clock sharded operator
    evicts nothing meaningful under replay — the whole history fits any
    realistic wall horizon). Decisions key off the watermark directly,
    not off whether the shard's timeout has fired (firing lags a
    batch): an arrival whose stored twin is expired-on-paper re-admits
    as new — the same convergence rule as the fine-grained
    ``dedup_stream_event_ttl``, whose in-horizon semantics this matches
    bit-for-bit (min doc_id per batch, first batch wins, duplicates
    refresh to the max event time ever seen; pinned in tests). The
    shard's registered timeout is max(member horizons) — the moment the
    WHOLE cohort is dead — so an unvisited shard's state still drops."""

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Watermark passed every member's horizon and the shard had
            # no data this batch: drop the whole seen-set.
            state.remove()
            return
        if state.exists:
            fps = list(state.get[0])
            lasts = [int(x) for x in state.get[1]]
        else:
            fps, lasts = [], []
        wm = state.getCurrentWatermarkMs()
        live = [i for i, last in enumerate(lasts) if last + ttl_ms > wm]
        if len(live) != len(fps):
            fps = [fps[i] for i in live]
            lasts = [lasts[i] for i in live]

        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            if fps:
                state.update((fps, lasts))
                state.setTimeoutTimestamp(max(lasts) + ttl_ms)
            else:
                state.remove()
            return
        batch = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        batch = batch.assign(_ms=_batch_event_ms(batch, ts_col))
        fp_max = batch.groupby("fingerprint", sort=False)["_ms"].max()
        firsts = batch.sort_values("doc_id", kind="stable").drop_duplicates(
            "fingerprint", keep="first"
        )
        idx = {f: i for i, f in enumerate(fps)}
        dup_mask = firsts["fingerprint"].isin(idx)
        for f in firsts.loc[dup_mask, "fingerprint"]:
            i = idx[f]
            # A late-but-valid row must not shrink the horizon.
            lasts[i] = max(lasts[i], int(fp_max[f]))
        fresh = firsts[~dup_mask]
        for f in fresh["fingerprint"]:
            fps.append(str(f))
            lasts.append(int(fp_max[f]))
        state.update((fps, lasts))
        # Every live member's horizon is > wm (pruned above) and fresh
        # ones carry max_ms > wm (the engine drops rows at-or-below the
        # watermark), so the timeout is always settable.
        state.setTimeoutTimestamp(max(lasts) + ttl_ms)
        if len(fresh):
            yield fresh[["doc_id", "text", "fingerprint"]]

    return emit


def dedup_stream_sharded_event_ttl(
    doc_stream: DataFrame,
    ts_col: str,
    ttl_event_seconds: int,
    n_shards: int = 64,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming exact dedup with SHARDED state AND an EVENT-time
    horizon — the combination the 100 TB firehose actually needs: the
    sharded layout amortizes the per-key Python call (one vectorized
    state call per shard per batch, ``dedup_stream_sharded``), and the
    event horizon bounds state by the distinct-key volume of the
    horizon in STREAM time, so a month-long backfill replayed in an
    hour reproduces the original admit/evict sequence instead of
    peaking at full-history state (the round-10 watch item: both
    firehose-shaped operators had no horizon lever at all). Same
    output contract as ``dedup_stream_event_ttl`` (pinned equivalent
    in tests); state is (fps, lasts) parallel arrays per shard —
    ~(md5-string + long) per live member."""
    from ._cohort import require_utc_session

    require_utc_session(doc_stream.sparkSession)
    fp = F.md5(F.lower(F.regexp_replace("text", r"[ \t\n\r\f\x0B]+", " ")))
    shard = F.abs(F.xxhash64("fingerprint")) % n_shards
    return (
        doc_stream.withColumn("fingerprint", fp)
        .withWatermark(ts_col, watermark_delay)
        .withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandasWithState(
            _make_emit_shard_unseen_event_ttl(ttl_event_seconds * 1000, ts_col),
            outputStructType=DOC_SCHEMA,
            stateStructType=_SHARD_EVENT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Bloom state with an EVENT-time horizon: generational rotation.
# ---------------------------------------------------------------------------
_BLOOM_EVENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("slot_version", T.IntegerType()),
        T.StructField("gen_start_ms", T.LongType()),
        T.StructField("bits_cur", T.ArrayType(T.LongType())),
        T.StructField("bits_prev", T.ArrayType(T.LongType())),
    ]
)


def _make_emit_bloom_unseen_event_ttl(ttl_ms: int, ts_col: str):
    """Rotating-generation bloom: bloom bits are not attributable to
    members, so per-member eviction is impossible — the bounded-state
    answer is the classic TWO-generation rotation (one filter per
    ``ttl`` band of stream time; membership = current OR previous;
    inserts go to current; when the watermark crosses a band boundary,
    previous is dropped, current becomes previous). The horizon is
    therefore approximate BY DESIGN: a duplicate within ``ttl`` of
    stream time is always suppressed (modulo the bloom FP rate), an
    item older than ``2·ttl`` is always re-admitted, and in between it
    depends on where the band boundary fell — the standard trade for
    O(1) state per shard (2 × 4 KiB here) with a horizon. Wholly-idle
    shards drop via a timeout at the end of the second band."""

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n_words = BLOOM_BITS // 64
        if state.hasTimedOut:
            # Two full bands passed with no data: both filters stale.
            state.remove()
            return
        wm = state.getCurrentWatermarkMs()
        frames = [pdf for pdf in pdfs if len(pdf)]
        batch = None
        if frames:
            batch = (
                pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            )
        if state.exists:
            stored_version = state.get[0]
            if stored_version != _BLOOM_SLOT_VERSION:
                raise ValueError(
                    f"bloom state written under slot derivation "
                    f"v{stored_version}, code is v{_BLOOM_SLOT_VERSION}: "
                    "start a fresh checkpoint."
                )
            gen_start = int(state.get[1])
            cur = np.array(state.get[2], dtype=np.int64).view(np.uint64).copy()
            prev = np.array(state.get[3], dtype=np.int64).view(np.uint64).copy()
            if wm >= gen_start + 2 * ttl_ms:
                # Both generations predate the horizon: hard reset,
                # re-anchor the band grid at the watermark.
                cur = np.zeros(n_words, dtype=np.uint64)
                prev = np.zeros(n_words, dtype=np.uint64)
                gen_start = (wm // ttl_ms) * ttl_ms
            elif wm >= gen_start + ttl_ms:
                prev, cur = cur, np.zeros(n_words, dtype=np.uint64)
                gen_start += ttl_ms
        else:
            if batch is None:
                return  # nothing to anchor a fresh shard's band grid on
            # The watermark LAGS one batch (it is 0 on the very first),
            # so a fresh shard anchors its band grid on the later of the
            # watermark and the batch's own max event time — anchoring
            # on a lagging wm would register a timeout the next
            # watermark advance immediately fires, wiping the filter.
            anchor = max(wm, int(_batch_event_ms(batch, ts_col).max()))
            gen_start = (anchor // ttl_ms) * ttl_ms
            cur = np.zeros(n_words, dtype=np.uint64)
            prev = np.zeros(n_words, dtype=np.uint64)

        if batch is not None:
            batch = batch[~batch.duplicated("fingerprint")]
            slots = np.stack(batch["_slots"].to_numpy())  # (n, k)
            words, offs = slots // 64, (slots % 64).astype(np.uint64)
            union = cur | prev
            seen = ((union[words] >> offs) & np.uint64(1)).all(axis=1)
            kept = batch[~seen]
            if len(kept):
                ks = slots[~seen]
                np.bitwise_or.at(
                    cur, ks // 64, np.uint64(1) << (ks % 64).astype(np.uint64)
                )
        else:
            kept = None  # pure rotation/bookkeeping visit
        state.update(
            (
                _BLOOM_SLOT_VERSION,
                int(gen_start),
                cur.view(np.int64).tolist(),
                prev.view(np.int64).tolist(),
            )
        )
        state.setTimeoutTimestamp(gen_start + 2 * ttl_ms)
        if kept is not None and len(kept):
            yield kept[["doc_id", "text", "fingerprint"]]

    return emit


def dedup_stream_bloom_event_ttl(
    doc_stream: DataFrame,
    ts_col: str,
    ttl_event_seconds: int,
    n_shards: int = 64,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming dedup with BOUNDED state and an EVENT-time horizon:
    ``dedup_stream_bloom``'s fixed-size shard filters, rotated in
    ``ttl`` bands of watermark time (see the state function). State is
    2 × 512 longs per shard FOREVER — the only dedup variant whose
    state is constant in both key volume and horizon length — at the
    cost of (a) the bloom FP rate and (b) a [ttl, 2·ttl) suppression
    window instead of an exact horizon. Pick it when the distinct-key
    volume inside the horizon would blow even the sharded-exact
    layout's budget; pick ``dedup_stream_sharded_event_ttl`` when the
    horizon must be exact."""
    from ._cohort import require_utc_session

    require_utc_session(doc_stream.sparkSession)
    fp = F.md5(F.lower(F.regexp_replace("text", r"[ \t\n\r\f\x0B]+", " ")))
    shard = F.abs(F.xxhash64("fingerprint")) % n_shards
    return (
        doc_stream.withColumn("fingerprint", fp)
        .withWatermark(ts_col, watermark_delay)
        .withColumn("_shard", shard)
        .withColumn("_slots", bloom_slot_array(F.col("fingerprint")))
        .groupBy("_shard")
        .applyInPandasWithState(
            _make_emit_bloom_unseen_event_ttl(ttl_event_seconds * 1000, ts_col),
            outputStructType=DOC_SCHEMA,
            stateStructType=_BLOOM_EVENT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_dedup_stream(
    spark: Any,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
    shuffle_partitions: int | None = None,
    n_shards: int | None = None,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    checkpoint_file_checksum: bool | None = None,
) -> None:
    """Drain a landing dir of docs JSONL through the stateful dedup into
    parquet (availableNow; re-runs resume the fingerprint state). Each
    micro-batch overwrites its own ``batch_id=N`` subtree so checkpoint
    retries are idempotent (exactly-once, matching the state-store
    semantics; a bare append would double-emit on retry).

    ``max_files_per_trigger`` bounds each micro-batch's file intake —
    Trigger.AvailableNow honors source read limits, so setting 1 over an
    N-file landing dir forces N micro-batches and genuinely exercises
    CROSS-batch state (the default drains everything in one batch).

    ``shuffle_partitions`` sets the STATE partition count for this
    stream. Streaming state layout is frozen by the first checkpoint —
    the session's shuffle.partitions at first start is what the state
    store lives with forever — so size it to the expected distinct-key
    volume, not the session default: each micro-batch pays one state
    commit per partition (at toy scale 32 partitions is pure commit
    overhead; at 100 TB key volume you want hundreds). Restored after
    the drain; existing checkpoints ignore it by design.

    ``checkpoint_file_checksum`` toggles Spark 4.1's
    ``spark.sql.streaming.checkpoint.fileChecksum.enabled`` for this
    drain (restored after): every checkpoint/state file write spawns a
    sibling ``.crc`` write, which for a per-run SCRATCH checkpoint
    (rebuilt from zero each invocation) is pure fixed cost — ~0.1 s
    per 2-batch drain of metadata fs ops at sf0.1. Leave None (session
    default, on) for any checkpoint that outlives the run: the
    checksum is what detects torn/corrupted checkpoint files on
    restart. Same single-query-per-session assumption as
    ``shuffle_partitions``.

    Raises ``TimeoutError`` when the drain does not reach idle within
    ``timeout_s``; the query is stopped first."""
    fields = [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
    if ttl_event_seconds is not None:
        fields.append(T.StructField("ts", T.TimestampType()))
    src_schema = T.StructType(fields)
    reader = spark.readStream.schema(src_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(landing_dir)
    # n_shards selects the sharded-exact operator, ttl_seconds /
    # ttl_event_seconds the TTL-evicting ones (wall-clock vs event-time
    # horizons — see dedup_stream_event_ttl for when each is right);
    # n_shards COMPOSES with ttl_event_seconds (the firehose shape with
    # the replay-safe horizon, dedup_stream_sharded_event_ttl);
    # ttl_seconds composes with nothing. All-None keeps per-fingerprint
    # NoTimeout state. All combinations pinned by tests.
    if ttl_seconds is not None and (
        n_shards is not None or ttl_event_seconds is not None
    ):
        raise ValueError(
            "ttl_seconds (wall-clock horizon) is mutually exclusive with "
            "n_shards and ttl_event_seconds"
        )
    if n_shards is not None and ttl_event_seconds is not None:
        deduped = dedup_stream_sharded_event_ttl(
            stream, "ts", ttl_event_seconds=ttl_event_seconds, n_shards=n_shards
        )
    elif n_shards is not None:
        deduped = dedup_stream_sharded(stream, n_shards=n_shards)
    elif ttl_seconds is not None:
        deduped = dedup_stream_ttl(stream, ttl_seconds=ttl_seconds)
    elif ttl_event_seconds is not None:
        deduped = dedup_stream_event_ttl(
            stream, "ts", ttl_event_seconds=ttl_event_seconds
        )
    else:
        deduped = dedup_stream(stream)

    from ._drain import drain_available_now, drain_confs, make_pair_sink_writer

    # Rows are already unique per batch (one per never-before-seen
    # fingerprint), so no dedup keys; skip-empty applies in both TTL
    # modes (zero-row state-cleanup batches must not litter the sink).
    any_ttl = ttl_seconds is not None or ttl_event_seconds is not None
    write_batch = make_pair_sink_writer(out_dir, None, skip_empty=any_ttl)
    with drain_confs(
        deduped,
        "update",
        shuffle_partitions=shuffle_partitions,
        checkpoint_file_checksum=checkpoint_file_checksum,
    ):
        q = (
            deduped.writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        # ProcessingTimeTimeout queries never self-terminate (they keep
        # servicing state-cleanup batches); EventTimeTimeout ones
        # normally do once the watermark stops advancing, but the
        # drain-until-idle loop is safe for both (it breaks the moment
        # the query goes inactive), so both TTL modes share it.
        drain_available_now(q, timeout_s, ttl=any_ttl)


# ---------------------------------------------------------------------------
# Bloom-filter state variant: constant-size state per key-range shard.
# ---------------------------------------------------------------------------
BLOOM_BITS = 1 << 15  # 32768 bits = 512 longs per shard
BLOOM_HASHES = 7
# Slot-derivation version, persisted IN the state: v1 was md5 15-bit
# windows (rounds ≤5), v2 is xxhash64+pmod. Bits set under one
# derivation are meaningless under another, so resuming an old
# checkpoint must fail LOUDLY — adding this field also changed the
# state schema, which Spark's state-schema validation rejects at
# restart for v1-era checkpoints; the in-state check below guards any
# FUTURE derivation change that happens not to alter the schema.
_BLOOM_SLOT_VERSION = 2

_BLOOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("slot_version", T.IntegerType()),
        T.StructField("bits", T.ArrayType(T.LongType())),
    ]
)


def bloom_slot_array(fingerprint: F.Column | str) -> F.Column:
    """k bloom bit positions as a JVM ``array<long>`` column: xxhash64 of
    the fingerprint under k seeds, pmod'd into the bit range. Computed
    map-side BEFORE the shard shuffle so the Python state function never
    hashes — it only tests and ORs bits. Deterministic across restarts
    and engines (xxhash64 is a fixed function of (seed, bytes))."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(seed), fingerprint), F.lit(BLOOM_BITS))
            for seed in range(BLOOM_HASHES)
        ]
    )


def _emit_bloom_unseen(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per key-range shard: emit a row iff its fingerprint's bloom bits
    are not all set, then set them. State is a FIXED 512-long bit array
    regardless of how many fingerprints the shard has seen.

    Fully vectorized over the batch (numpy bit ops on the precomputed
    ``_slots`` column — no per-row Python loop, no hashing here): exact
    in-batch duplicate fingerprints collapse to their first arrival,
    survivors are membership-tested against the shard filter in one
    gather, and the kept rows' bits are OR'd in with one scatter. One
    deliberate difference from a sequential per-row insert: a unique doc
    whose slots are jointly covered only by OTHER docs of the SAME batch
    is kept (sequential would false-positive-drop it) — strictly fewer
    false positives, same bounded state."""
    n_words = BLOOM_BITS // 64
    if state.exists:
        stored_version = state.get[0]
        if stored_version != _BLOOM_SLOT_VERSION:
            raise ValueError(
                f"bloom state written under slot derivation v{stored_version}, "
                f"code is v{_BLOOM_SLOT_VERSION}: the persisted bits test "
                "different positions than this code sets — resuming would "
                "silently leak duplicates and inflate false positives. "
                "Start a fresh checkpoint."
            )
        # State schema is array<signed long>; reinterpret, don't convert.
        bits = np.array(state.get[1], dtype=np.int64).view(np.uint64).copy()
    else:
        bits = np.zeros(n_words, dtype=np.uint64)
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        state.update((_BLOOM_SLOT_VERSION, bits.view(np.int64).tolist()))
        return
    batch = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    batch = batch[~batch.duplicated("fingerprint")]
    slots = np.stack(batch["_slots"].to_numpy())  # (n, k)
    words, offs = slots // 64, (slots % 64).astype(np.uint64)
    seen = ((bits[words] >> offs) & np.uint64(1)).all(axis=1)
    kept = batch[~seen]
    if len(kept):
        ks = slots[~seen]
        np.bitwise_or.at(
            bits, ks // 64, np.uint64(1) << (ks % 64).astype(np.uint64)
        )
        state.update((_BLOOM_SLOT_VERSION, bits.view(np.int64).tolist()))
        yield kept[["doc_id", "text", "fingerprint"]]
    else:
        state.update((_BLOOM_SLOT_VERSION, bits.view(np.int64).tolist()))


def dedup_stream_bloom(doc_stream: DataFrame, n_shards: int = 64) -> DataFrame:
    """Streaming exact-dedup with BOUNDED state: fingerprints hash into
    ``n_shards`` key ranges, each holding one fixed-size bloom filter
    (512 longs) instead of one state entry per distinct fingerprint —
    total state is n_shards x 4 KiB forever, the trade being a small
    false-positive rate (a never-seen doc dropped as duplicate; FP rate
    ~ (1 - e^{-kn/m})^k per shard, so size n_shards for the expected
    distinct count). This is the sharded-bloom design the exact-state
    operator's docstring points to at 100 TB; unlike that operator it
    keeps NO doc payloads in state at all.

    In-batch duplicates collapse to the FIRST row the shard processes
    (pandas batch order), not necessarily min doc_id — online arrival
    semantics; the exact-state operator keeps min-per-batch."""
    shard = F.abs(F.xxhash64("fingerprint")) % n_shards
    return (
        fingerprinted(doc_stream)
        .withColumn("_shard", shard)
        .withColumn("_slots", bloom_slot_array(F.col("fingerprint")))
        .groupBy("_shard")
        .applyInPandasWithState(
            _emit_bloom_unseen,
            outputStructType=DOC_SCHEMA,
            stateStructType=_BLOOM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_bloom_dedup_stream(
    spark: Any,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    ttl_event_seconds: int | None = None,
) -> None:
    """Drain docs JSONL through the bloom-state dedup (availableNow,
    idempotent batch_id-keyed sink like ``run_dedup_stream``).
    ``ttl_event_seconds`` selects the generational event-horizon
    variant (``dedup_stream_bloom_event_ttl``; rows then carry ``ts``)."""
    fields = [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
    if ttl_event_seconds is not None:
        fields.append(T.StructField("ts", T.TimestampType()))
    stream = spark.readStream.schema(T.StructType(fields)).json(landing_dir)
    if ttl_event_seconds is not None:
        deduped = dedup_stream_bloom_event_ttl(
            stream, "ts", ttl_event_seconds=ttl_event_seconds
        )
    else:
        deduped = dedup_stream_bloom(stream)

    from ._drain import drain_available_now, make_pair_sink_writer

    ttl_mode = ttl_event_seconds is not None
    write_batch = make_pair_sink_writer(out_dir, None, skip_empty=ttl_mode)
    q = (
        deduped.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, timeout_s, ttl=ttl_mode)
