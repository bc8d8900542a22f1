"""Custom stateful streaming operator: cross-batch exact dedup
(``applyInPandasWithState``).

The batch dedup operators (queries/extensions.py, operators/minhash.py)
answer "what is duplicated in this corpus"; a streaming training-data
pipeline needs the online form — "have I EVER seen this document
before" — across micro-batches and restarts. Spark has no built-in for
that (``dropDuplicates`` on a stream needs watermark-bounded state and
forgets), so this is the applyInPandasWithState case: state lives in
the state store, keyed by content fingerprint (``content_fingerprint``
in functions/text.py, the same key the batch dedup queries group on),
and survives checkpoint restarts.

One constructor, ``dedup_stream``, builds every variant; its options
pick a (key layout, eviction) row of ``_VARIANTS``, which fixes the
state function, the state schema and the timeout mode.
``run_dedup_stream`` drains any of them from a JSONL landing dir.

Key layout — ``n_shards`` / ``bloom``:

- exact (default): grouped by ``fingerprint``, one Python call per
  distinct fingerprint per batch; state reads and writes touch only
  the keys present in the batch.
- sharded (``n_shards=N``): grouped by ``_shard =
  abs(xxhash64(fingerprint)) % N``, one vectorized call per shard per
  batch holding the shard's exact seen-set — the same output as exact
  (min doc_id per batch, first batch wins), but a touched shard's whole
  seen-set is rewritten every batch.
- bloom (``n_shards=N, bloom=True``): the sharded grouping with one
  fixed 512-long bloom filter per shard — no doc payloads in state, at
  a false-positive rate of ~(1 - e^{-kn/m})^k per shard (size N to the
  distinct count); in-batch duplicates collapse to the first arrival,
  not the min doc_id.

Eviction — ``ttl_seconds`` / ``ttl_event_seconds``:

- none: "seen before" has no horizon; state grows with the stream.
- processing time (``ttl_seconds``): a key is evicted after that long
  without arrivals; a duplicate refreshes it (last-seen). Exact layout
  only. A wall-clock horizon evicts nothing meaningful under backfill
  replay (a month reprocessed in an hour fits any realistic horizon).
- event time (``ttl_event_seconds``): the horizon runs on the watermark
  over the rows' ``ts`` column (0 s delay), so a replay reproduces the
  original admit/suppress decisions. Needs a UTC session. Decisions key
  off the watermark, not off whether a timeout has fired yet (firing
  lags a batch), so one-batch and many-batch replays converge.

The seven combinations (``ttl_seconds`` excludes ``n_shards``, ``bloom``
and ``ttl_event_seconds``; ``bloom`` requires ``n_shards``):

======= ========== ======================= ============== =========================
layout  eviction   state schema            timeout        pick when…
======= ========== ======================= ============== =========================
exact   none       seen int                NoTimeout      huge cold key space with
                                                          sparse batches: a batch
                                                          touches only its own keys
exact   processing seen int                ProcessingTime "dedup against the last T
                                                          of wall clock", exact in
                                                          the horizon; eviction
                                                          latency T + one batch
exact   event      seen int,               EventTime      exact horizon that
                   last_ms long                           survives backfill replay,
                                                          modest keys per batch
sharded none       fps array<string>       NoTimeout      high-churn firehose over
                                                          a modest total key space:
                                                          N calls per batch, not
                                                          one per key (~30 µs each)
sharded event      fps array<string>,      EventTime      the firehose with an
                   lasts array<long>                      exact, replay-safe
                                                          horizon: members expire
                                                          by their own event age
bloom   none       slot_version int,       NoTimeout      distinct keys blow any
                   bits array<long>                       exact budget: N × 4 KiB
                                                          forever, at the FP rate
bloom   event      slot_version int,       EventTime      keys inside the horizon
                   gen_start_ms long,                     blow even the sharded
                   bits_cur array<long>,                  budget: state constant in
                   bits_prev array<long>                  key volume AND horizon;
                                                          suppression window
                                                          [ttl, 2·ttl), not exact
======= ========== ======================= ============== =========================

``dedup_stream_watermarked`` is the BUILT-IN counterpart (no Python
state function at all); prefer it whenever "no duplicate within the
watermark delay" is the contract.

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

from ..functions.text import content_fingerprint
from ._cohort import require_utc_session
from ._drain import batch_id_writer, drain_stream, read_landing

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)
_DOC_COLS = DOC_SCHEMA.fieldNames()

# Event-time column and watermark delay of the event-horizon variants.
_TS = "ts"
_WATERMARK_DELAY = "0 seconds"

BLOOM_BITS = 1 << 15  # 32768 bits = 512 longs per shard
BLOOM_HASHES = 7
# Slot-derivation version, persisted IN the state: v1 was md5 15-bit
# windows (rounds ≤5), v2 is xxhash64+pmod. Bits set under one
# derivation are meaningless under another, so resuming an old
# checkpoint must fail LOUDLY — adding this field also changed the
# state schema, which Spark's state-schema validation rejects at
# restart for v1-era checkpoints; the in-state check guards any
# FUTURE derivation change that happens not to alter the schema.
_BLOOM_SLOT_VERSION = 2

_STATE_SCHEMA = T.StructType([T.StructField("seen", T.IntegerType())])
_EVENT_TTL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen", T.IntegerType()),
        T.StructField("last_ms", T.LongType()),  # max event time seen, epoch ms
    ]
)
_SHARD_EXACT_STATE_SCHEMA = T.StructType(
    [T.StructField("fps", T.ArrayType(T.StringType()))]
)
_SHARD_EVENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("fps", T.ArrayType(T.StringType())),
        T.StructField("lasts", T.ArrayType(T.LongType())),  # per-member max event ms
    ]
)
_BLOOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("slot_version", T.IntegerType()),
        T.StructField("bits", T.ArrayType(T.LongType())),
    ]
)
_BLOOM_EVENT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("slot_version", T.IntegerType()),
        T.StructField("gen_start_ms", T.LongType()),
        T.StructField("bits_cur", T.ArrayType(T.LongType())),
        T.StructField("bits_prev", T.ArrayType(T.LongType())),
    ]
)


# ---------------------------------------------------------------------------
# Shared pieces of the state functions.
# ---------------------------------------------------------------------------
def _concat_nonempty(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """The group's rows of this batch as one frame; None when there are
    none (timeout and bookkeeping visits)."""
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return None
    return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]


def _min_doc_id_per_fingerprint(batch: pd.DataFrame) -> pd.DataFrame:
    """Each fingerprint's lowest-doc_id row of the batch (earliest
    arrival on ties) — the in-batch pick of every exact layout."""
    return batch.sort_values("doc_id", kind="stable").drop_duplicates(
        "fingerprint", keep="first"
    )


def _pdf_max_event_ms(pdf: pd.DataFrame) -> int:
    """Max event time of a pandas batch slice as epoch ms.
    ``pd.Timestamp.value`` is nanoseconds regardless of the frame's
    datetime64 resolution, so this is Arrow-resolution-proof. Exact
    only under the UTC session ``dedup_stream`` enforces for event
    horizons — the worker sees tz-naive timestamps rendered in the
    session zone, and the watermark/timeout APIs speak true epoch ms."""
    return int(pd.Timestamp(pdf[_TS].max()).value // 1_000_000)


def _batch_event_ms(batch: pd.DataFrame) -> pd.Series:
    """Event times of a pandas batch as epoch ms, vectorized and
    Arrow-resolution-proof (datetime64[us] deliveries are upcast to ns
    before the integer view). Same UTC contract as ``_pdf_max_event_ms``."""
    return (
        pd.to_datetime(batch[_TS]).astype("datetime64[ns]").astype("int64")
        // 1_000_000
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


def _check_bloom_version(state: GroupState) -> None:
    """Refuse bloom state written under another slot derivation."""
    stored_version = state.get[0]
    if stored_version != _BLOOM_SLOT_VERSION:
        raise ValueError(
            f"bloom state written under slot derivation v{stored_version}, "
            f"code is v{_BLOOM_SLOT_VERSION}: the persisted bits test "
            "different positions than this code sets — resuming would "
            "silently leak duplicates and inflate false positives. "
            "Start a fresh checkpoint."
        )


def _bloom_bits(words: list[int] | None = None) -> np.ndarray:
    """A filter as uint64 words: the stored array<signed long>
    reinterpreted (not converted), or an empty filter."""
    if words is None:
        return np.zeros(BLOOM_BITS // 64, dtype=np.uint64)
    return np.array(words, dtype=np.int64).view(np.uint64).copy()


def _bloom_words(bits: np.ndarray) -> list[int]:
    """A filter back as plain ints for the array<long> state field."""
    return bits.view(np.int64).tolist()


def _bloom_admit(
    batch: pd.DataFrame, member: np.ndarray, target: np.ndarray
) -> pd.DataFrame:
    """Bloom test-and-set, vectorized over the batch (numpy bit ops on
    the precomputed ``_slots`` column — no per-row Python loop, no
    hashing): exact in-batch duplicate fingerprints collapse to their
    first arrival, survivors are tested against ``member`` in one
    gather, and the kept rows' bits are OR'd into ``target`` in place
    with one scatter. Returns the kept rows. One deliberate difference
    from a sequential per-row insert: a unique doc whose slots are
    jointly covered only by OTHER docs of the SAME batch is kept
    (sequential would false-positive-drop it) — strictly fewer false
    positives, same bounded state."""
    batch = batch[~batch.duplicated("fingerprint")]
    slots = np.stack(batch["_slots"].to_numpy())  # (n, k)
    words, offs = slots // 64, (slots % 64).astype(np.uint64)
    seen = ((member[words] >> offs) & np.uint64(1)).all(axis=1)
    ks = slots[~seen]
    np.bitwise_or.at(target, ks // 64, np.uint64(1) << (ks % 64).astype(np.uint64))
    return batch[~seen]


# ---------------------------------------------------------------------------
# The state functions, one per (layout, eviction) row.
# ---------------------------------------------------------------------------
def _make_emit_unseen(ttl_ms: int | None):
    """Per fingerprint: emit the lowest-doc_id row the FIRST time the
    fingerprint is seen; afterwards (same batch or any later one) emit
    nothing. State = a single 'seen' flag. ``ttl_ms`` None never evicts;
    otherwise the flag is EVICTED after ``ttl_ms`` without arrivals
    (processing-time timeout), and a duplicate arriving inside the
    horizon refreshes it — hot boilerplate stays suppressed for as long
    as it keeps arriving, and a fingerprint arriving after eviction is
    re-admitted as new."""

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Timeout invocations carry no data rows; drop the key.
            state.remove()
            return
        if state.exists:
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)  # refresh the horizon
            return
        batch = _concat_nonempty(pdfs)
        if batch is None:
            return
        state.update((1,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield _min_doc_id_per_fingerprint(batch)[_DOC_COLS]

    return emit


_emit_first_unseen = _make_emit_unseen(None)


def _make_emit_unseen_event_ttl(ttl_ms: int):
    """Per fingerprint with an EVENT-time horizon: a duplicate iff the
    stored max-event-time + ttl is still ahead of the WATERMARK. An
    arrival whose stored horizon the watermark has already passed is
    re-admitted as new even if the eviction sweep hasn't reached the
    key — what makes one-batch and many-batch replays of the same files
    converge to the same state (pinned in tests)."""

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Watermark passed the stored horizon and the key had no
            # data this batch: evict.
            state.remove()
            return
        batch = _concat_nonempty(pdfs)
        if batch is None:
            return
        max_ms = _pdf_max_event_ms(batch)
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
        yield _min_doc_id_per_fingerprint(batch)[_DOC_COLS]

    return emit


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
    batch = _concat_nonempty(pdfs)
    if batch is None:
        state.update((seen,))
        return
    batch = _min_doc_id_per_fingerprint(batch)
    fresh = batch[~batch["fingerprint"].isin(set(seen))]
    # Plain-str state (numpy scalars poison the state pickle JVM-side).
    state.update((seen + [str(f) for f in fresh["fingerprint"]],))
    if len(fresh):
        yield fresh[_DOC_COLS]


def _make_emit_shard_unseen_event_ttl(ttl_ms: int):
    """Sharded seen-set with PER-MEMBER event-time horizons: each
    fingerprint carries its max event time; every visit prunes members
    whose time + ttl is behind the WATERMARK before the membership
    test, so an arrival whose stored twin is expired-on-paper re-admits
    as new — the fine-grained event rule, matched bit-for-bit (min
    doc_id per batch, first batch wins, duplicates refresh to the max
    event time ever seen; pinned in tests). The shard's registered
    timeout is max(member horizons) — the moment the WHOLE cohort is
    dead — so an unvisited shard's state still drops."""

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

        batch = _concat_nonempty(pdfs)
        if batch is None:
            if fps:
                state.update((fps, lasts))
                state.setTimeoutTimestamp(max(lasts) + ttl_ms)
            else:
                state.remove()
            return
        batch = batch.assign(_ms=_batch_event_ms(batch))
        fp_max = batch.groupby("fingerprint", sort=False)["_ms"].max()
        firsts = _min_doc_id_per_fingerprint(batch)
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
            yield fresh[_DOC_COLS]

    return emit


def _emit_bloom_unseen(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per key-range shard: emit a row iff its fingerprint's bloom bits
    are not all set, then set them (``_bloom_admit``). State is a FIXED
    512-long bit array regardless of how many fingerprints the shard
    has seen."""
    if state.exists:
        _check_bloom_version(state)
        bits = _bloom_bits(state.get[1])
    else:
        bits = _bloom_bits()
    batch = _concat_nonempty(pdfs)
    kept = None if batch is None else _bloom_admit(batch, bits, bits)
    state.update((_BLOOM_SLOT_VERSION, _bloom_words(bits)))
    if kept is not None and len(kept):
        yield kept[_DOC_COLS]


def _make_emit_bloom_unseen_event_ttl(ttl_ms: int):
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
        if state.hasTimedOut:
            # Two full bands passed with no data: both filters stale.
            state.remove()
            return
        wm = state.getCurrentWatermarkMs()
        batch = _concat_nonempty(pdfs)
        if state.exists:
            _check_bloom_version(state)
            gen_start = int(state.get[1])
            cur, prev = _bloom_bits(state.get[2]), _bloom_bits(state.get[3])
            if wm >= gen_start + 2 * ttl_ms:
                # Both generations predate the horizon: hard reset,
                # re-anchor the band grid at the watermark.
                cur, prev = _bloom_bits(), _bloom_bits()
                gen_start = (wm // ttl_ms) * ttl_ms
            elif wm >= gen_start + ttl_ms:
                prev, cur = cur, _bloom_bits()
                gen_start += ttl_ms
        else:
            if batch is None:
                return  # nothing to anchor a fresh shard's band grid on
            # The watermark LAGS one batch (it is 0 on the very first),
            # so a fresh shard anchors its band grid on the later of the
            # watermark and the batch's own max event time — anchoring
            # on a lagging wm would register a timeout the next
            # watermark advance immediately fires, wiping the filter.
            anchor = max(wm, int(_batch_event_ms(batch).max()))
            gen_start = (anchor // ttl_ms) * ttl_ms
            cur, prev = _bloom_bits(), _bloom_bits()

        # No batch: a pure rotation/bookkeeping visit.
        kept = None if batch is None else _bloom_admit(batch, cur | prev, cur)
        state.update(
            (_BLOOM_SLOT_VERSION, int(gen_start), _bloom_words(cur), _bloom_words(prev))
        )
        state.setTimeoutTimestamp(gen_start + 2 * ttl_ms)
        if kept is not None and len(kept):
            yield kept[_DOC_COLS]

    return emit


# (layout, eviction) -> (state-function factory of ttl_ms, state schema,
# timeout mode). Checkpoints freeze the schema, the grouping key and the
# timeout mode, so an entry's values never change once written.
_VARIANTS = {
    ("exact", "none"): (
        _make_emit_unseen,
        _STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    ),
    ("exact", "processing"): (
        _make_emit_unseen,
        _STATE_SCHEMA,
        GroupStateTimeout.ProcessingTimeTimeout,
    ),
    ("exact", "event"): (
        _make_emit_unseen_event_ttl,
        _EVENT_TTL_STATE_SCHEMA,
        GroupStateTimeout.EventTimeTimeout,
    ),
    ("sharded", "none"): (
        lambda _: _emit_shard_unseen,
        _SHARD_EXACT_STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    ),
    ("sharded", "event"): (
        _make_emit_shard_unseen_event_ttl,
        _SHARD_EVENT_STATE_SCHEMA,
        GroupStateTimeout.EventTimeTimeout,
    ),
    ("bloom", "none"): (
        lambda _: _emit_bloom_unseen,
        _BLOOM_STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    ),
    ("bloom", "event"): (
        _make_emit_bloom_unseen_event_ttl,
        _BLOOM_EVENT_STATE_SCHEMA,
        GroupStateTimeout.EventTimeTimeout,
    ),
}


def dedup_stream(
    doc_stream: DataFrame,
    *,
    n_shards: int | None = None,
    bloom: bool = False,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
) -> DataFrame:
    """Streaming dedup: one output row (``DOC_SCHEMA``) per fingerprint
    not seen before, state persisted across micro-batches via the
    checkpointed state store. ``doc_stream`` carries ``doc_id`` and
    ``text``, plus a ``ts`` timestamp when ``ttl_event_seconds`` is set.
    The options select the variant — see the module docstring's table;
    an invalid combination raises ``ValueError`` before any plan is
    built."""
    if ttl_seconds is not None and (
        n_shards is not None or bloom or ttl_event_seconds is not None
    ):
        raise ValueError(
            "ttl_seconds (wall-clock horizon) is mutually exclusive with "
            "n_shards, bloom and ttl_event_seconds"
        )
    if bloom and n_shards is None:
        raise ValueError("bloom=True needs n_shards (the filter count)")
    layout = "bloom" if bloom else "exact" if n_shards is None else "sharded"
    if ttl_seconds is not None:
        eviction, ttl_ms = "processing", ttl_seconds * 1000
    elif ttl_event_seconds is not None:
        eviction, ttl_ms = "event", ttl_event_seconds * 1000
    else:
        eviction, ttl_ms = "none", None
    make_emit, state_schema, timeout = _VARIANTS[layout, eviction]

    cols = ["doc_id", "text"]
    if eviction == "event":
        require_utc_session(doc_stream.sparkSession)
        cols.append(_TS)
    plan = doc_stream.select(*cols, content_fingerprint("text").alias("fingerprint"))
    if eviction == "event":
        plan = plan.withWatermark(_TS, _WATERMARK_DELAY)
    key = "fingerprint"
    if n_shards is not None:
        key = "_shard"
        plan = plan.withColumn("_shard", F.abs(F.xxhash64("fingerprint")) % n_shards)
    if bloom:
        plan = plan.withColumn("_slots", bloom_slot_array(F.col("fingerprint")))
    return plan.groupBy(key).applyInPandasWithState(
        make_emit(ttl_ms),
        outputStructType=DOC_SCHEMA,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
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
    bloom: bool = False,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    checkpoint_file_checksum: bool | None = None,
) -> None:
    """Drain a landing dir of docs JSONL through ``dedup_stream`` into
    parquet (availableNow; re-runs resume the dedup state).
    ``n_shards``, ``bloom``, ``ttl_seconds`` and ``ttl_event_seconds``
    select the variant as in ``dedup_stream`` (with
    ``ttl_event_seconds`` the rows carry ``ts``). Each micro-batch
    overwrites its own ``batch_id=N`` subtree so checkpoint retries are
    idempotent (exactly-once, matching the state-store semantics; a
    bare append would double-emit on retry).

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

    Raises ``ValueError`` for an invalid variant before the query
    starts, and ``TimeoutError`` when the drain does not reach idle
    within ``timeout_s``; the query is stopped first."""
    schema = "doc_id long, text string"
    if ttl_event_seconds is not None:
        schema += f", {_TS} timestamp"
    deduped = dedup_stream(
        read_landing(spark, schema, landing_dir, "json", max_files_per_trigger),
        n_shards=n_shards,
        bloom=bloom,
        ttl_seconds=ttl_seconds,
        ttl_event_seconds=ttl_event_seconds,
    )
    # Rows are already unique per batch (one per never-before-seen
    # fingerprint), so no dedup keys. Both TTL modes drain until idle:
    # EventTimeTimeout queries normally self-terminate, but the idle
    # loop breaks the moment the query goes inactive.
    drain_stream(
        deduped,
        checkpoint_dir,
        batch_id_writer(out_dir),
        mode="update",
        timeout_s=timeout_s,
        shuffle_partitions=shuffle_partitions,
        checkpoint_file_checksum=checkpoint_file_checksum,
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
    all; prefer this whenever the data has event time). ``dedup_stream``
    exists for what it can't express: dedup on CONTENT irrespective of
    time with unbounded, wall-clock-bounded, sharded-exact, or
    bloom-bounded state, min-doc_id in-batch selection, and emit-once
    "first ever seen" semantics rather than "no duplicate within the
    watermark delay"."""
    return (
        doc_stream.withColumn("fingerprint", content_fingerprint("text"))
        .withWatermark(ts_col, delay)  # ts_col kept for the watermark
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
