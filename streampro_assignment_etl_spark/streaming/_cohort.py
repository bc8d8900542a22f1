"""Shared per-bucket cohort state machine for the streaming near-dup
detectors (``fuzzy_dedup`` MinHash signatures, ``embedding_dedup`` unit
vectors).

Both operators are the SAME stateful shape — restore the bucket's
(ids, payload-matrix) cohort, score each arriving batch block against
the cohort and against the batch's own earlier rows (strict lower
triangle), emit threshold hits, append, persist — and that shape
carries the subtle parts: the None-vs-empty restore edge (a persisted
EMPTY cohort must restore payloads as ``None``, not a (0,)-shaped
array that breaks the later vstack; found by a hypothesis property in
round 7), the builtin-types-only ``state.update`` discipline (numpy
scalars poison the state pickle), and the arrival-order pair rule.
One factory keeps those fixed once; the operators differ only in
payload dtype and the vectorized score function.

State-bounding policy hooks (round 9, closing the round-8 ``weak``:
"every vector persists n_planes+1 full copies forever"):

- ``store_field``: asymmetric store-once probing. When set, only rows
  whose boolean ``store_field`` is true enter the persisted cohort;
  the rest are PROBE rows — they score against the cohort (and
  against the batch's stored rows, see the in-batch rule below) but
  never persist, and a bucket visited only by probe rows creates NO
  state entry at all. The caller stores each item once (its base
  bucket) and widens the PROBE ring instead — state per item drops
  from ring-size× to 1× with identical pair semantics when the probe
  ring covers the old symmetric collision distance. In-batch pairs
  additionally require at least one side stored in this bucket, so
  in-batch and cross-batch collision rules are the same predicate
  ("one side's base bucket is in the other side's probe ring"), not
  an accidental wider probe∩probe rule.
- ``ttl_ms``: whole-cohort eviction via ``ProcessingTimeTimeout`` —
  a bucket idle for ``ttl_ms`` drops its cohort (the caller must pass
  ``timeoutConf=GroupStateTimeout.ProcessingTimeTimeout``), bounding
  total state by the distinct-bucket volume of the horizon instead of
  the stream's lifetime; any arrival refreshes the bucket's horizon
  (same last-seen semantics as ``stateful_dedup.dedup_stream`` with
  ``ttl_seconds``).
- ``ttl_event_ms`` + ``ts_field``: PER-MEMBER eviction on an EVENT-time
  horizon (the caller must watermark ``ts_field``, pass
  ``EventTimeTimeout``, and grow its state schema by a ``lasts``
  ARRAY<BIGINT> column — one event timestamp per member). A wall-clock
  horizon evicts nothing meaningful under backfill replay (a month of
  history reprocessed in an hour sits entirely inside any realistic
  wall horizon); the event horizon replays identically. Unlike the
  wall lever's whole-cohort last-seen rule, each member expires by its
  OWN event age: every visit prunes members whose event time + ttl is
  behind the WATERMARK before scoring (not after the timeout fires —
  firing lags a batch), so an arrival can never pair with an expired
  member, in any replay batching. Probe rows do not extend member
  lifetimes. The registered timeout is max(member lasts) + ttl — the
  moment the whole cohort is dead — so an unvisited bucket's state
  still drops without waiting for traffic. Physical state may retain
  already-expired members of a PARTIALLY-live cohort until the
  bucket's next visit (they are invisible to scoring — the prune runs
  before every read); the LIVE view (members within the horizon of the
  final watermark) is replay-deterministic, pinned in tests.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

_UTC_ZONES = frozenset({"UTC", "Etc/UTC", "GMT", "Etc/GMT", "GMT0", "Z", "+00:00"})


def require_utc_session(spark) -> None:
    """Event-horizon math needs a UTC session timezone — loudly.

    ``applyInPandasWithState`` delivers TimestampType to the worker as
    tz-NAIVE datetimes rendered in ``spark.sql.session.timeZone``, but
    ``GroupState.getCurrentWatermarkMs`` / ``setTimeoutTimestamp`` speak
    true epoch ms. The naive→epoch hop the event-TTL paths do is exact
    only when those two frames coincide (session tz = UTC); under any
    other zone the horizon is off by the offset — west-of-UTC kills the
    query (timeout below watermark), east-of-UTC silently widens every
    member's horizon. A general inverse doesn't exist (DST folds map two
    instants to one wall time), so the contract is pinned instead:
    refuse to build an event-horizon stream on a non-UTC session.
    ``session.get_spark`` already pins UTC; this guards caller-provided
    sessions."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_ZONES:
        raise ValueError(
            f"event-time TTL requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the state function's naive-timestamp→epoch-ms "
            f"conversion is only exact under UTC"
        )


def with_member_horizons(schema: T.StructType) -> T.StructType:
    """Grow a cohort state schema by the event-horizon bookkeeping
    column: ``lasts`` ARRAY<BIGINT>, one event-time ms per member,
    parallel to ``ids`` — appended LAST because ``make_cohort_matcher``
    reads it back as ``state.get[2]``. The one place the layout
    contract lives; both near-dup streams build their event-mode state
    schema through it."""
    return T.StructType(
        [*schema.fields, T.StructField("lasts", T.ArrayType(T.LongType()))]
    )


def make_cohort_matcher(
    *,
    id_field: str,
    payload_field: str,
    payload_dtype: type,
    score: Callable[[np.ndarray, np.ndarray], np.ndarray],
    threshold: float,
    out_a: str,
    out_b: str,
    out_score: str,
    store_field: str | None = None,
    ttl_ms: int | None = None,
    ttl_event_ms: int | None = None,
    ts_field: str | None = None,
):
    """Build an ``applyInPandasWithState`` function: row i pairs with
    every cohort member plus every EARLIER row of the same batch whose
    ``score`` (an (n, m) matrix from two payload blocks) reaches
    ``threshold``, skipping id-equal rows. With ``store_field`` set,
    only flagged rows persist, and in-batch pairs require a flagged
    side (see module docstring). ``ttl_ms`` / ``ttl_event_ms`` are the
    wall-clock / event-time horizon levers (mutually exclusive; the
    event one needs ``ts_field`` and a third ``last_ms`` state
    column)."""
    if ttl_ms is not None and ttl_event_ms is not None:
        raise ValueError("ttl_ms and ttl_event_ms are mutually exclusive")
    if (ttl_event_ms is None) != (ts_field is None):
        raise ValueError("ttl_event_ms and ts_field go together")

    def match_bucket(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if (ttl_ms is not None or ttl_event_ms is not None) and state.hasTimedOut:
            # Timeout invocations carry no data rows; drop the cohort.
            state.remove()
            return
        lasts = np.empty(0, dtype=np.int64)  # per-member event ms (event mode)
        pruned = False
        if state.exists and len(state.get[0]):
            ids = np.asarray(state.get[0], dtype=np.int64)
            payload = np.asarray([list(v) for v in state.get[1]], dtype=payload_dtype)
            if ttl_event_ms is not None:
                lasts = np.asarray(state.get[2], dtype=np.int64)
                # Per-member prune BEFORE scoring: a member whose event
                # horizon is behind the watermark is dead even if the
                # cohort's timeout (max member + ttl) hasn't fired.
                alive = lasts + ttl_event_ms > state.getCurrentWatermarkMs()
                if not alive.all():
                    pruned = True
                    ids, lasts = ids[alive], lasts[alive]
                    payload = payload[alive] if alive.any() else None
        else:
            ids = np.empty(0, dtype=np.int64)
            payload = None  # (0, k) with k unknown until the first rows land
        # Store-once materializes the bucket's whole batch slice before
        # scoring: chunk-at-a-time breaks there (a probe row chunked
        # BEFORE its partner's stored row would never see it, because
        # probe rows don't enter the cohort between chunks) — the
        # peak-memory bound is the bucket's batch slice plus its
        # cohort. Store-all (store_field=None) keeps the chunked path:
        # every row enters the cohort, so a chunk scoring against the
        # so-far cohort sees all earlier batch rows, and peak memory is
        # one Arrow chunk plus the cohort.
        if store_field is not None:
            frames = [pdf for pdf in pdfs if len(pdf)]
            blocks = (
                [pd.concat(frames, ignore_index=True)]
                if len(frames) > 1
                else frames
            )
        else:
            blocks = (pdf for pdf in pdfs if len(pdf))
        parts: list[pd.DataFrame] = []
        stored_new = 0
        for block in blocks:
            if ts_field is not None:
                # Per-row event ms; the datetime64[ms] hop is exact for
                # any Arrow resolution the batch arrives in, GIVEN the
                # UTC session the builders enforce (require_utc_session)
                # — naive timestamps in any other zone would land off
                # the watermark's epoch frame by the zone offset.
                b_ts = (
                    block[ts_field]
                    .to_numpy()
                    .astype("datetime64[ms]")
                    .astype(np.int64)
                )
            b_ids = block[id_field].to_numpy(dtype=np.int64)
            b_pay = np.asarray(
                [list(v) for v in block[payload_field]], dtype=payload_dtype
            )
            keep = (
                block[store_field].to_numpy(dtype=bool)
                if store_field is not None
                else np.ones(len(b_ids), dtype=bool)
            )
            n = len(b_ids)
            if payload is not None and len(ids):
                sc = score(b_pay, payload)  # (n, m)
                hit = (sc >= threshold) & (b_ids[:, None] != ids[None, :])
                bi, ci = np.nonzero(hit)
                if len(bi):
                    parts.append(
                        pd.DataFrame(
                            {
                                out_a: np.minimum(b_ids[bi], ids[ci]),
                                out_b: np.maximum(b_ids[bi], ids[ci]),
                                out_score: sc[bi, ci],
                            }
                        )
                    )
            if n > 1:
                sc_b = score(b_pay, b_pay)
                hit_b = (
                    (sc_b >= threshold)
                    & (b_ids[:, None] != b_ids[None, :])
                    & np.tri(n, k=-1, dtype=bool)
                    # In-batch pairs need a stored side: two probe rows
                    # co-visiting a bucket is a wider collision rule
                    # than the cross-batch one and must not emit.
                    & (keep[:, None] | keep[None, :])
                )
                bi, ji = np.nonzero(hit_b)
                if len(bi):
                    parts.append(
                        pd.DataFrame(
                            {
                                out_a: np.minimum(b_ids[bi], b_ids[ji]),
                                out_b: np.maximum(b_ids[bi], b_ids[ji]),
                                out_score: sc_b[bi, ji],
                            }
                        )
                    )
            if keep.any():
                stored_new += int(keep.sum())
                k_ids, k_pay = b_ids[keep], b_pay[keep]
                ids = np.concatenate([ids, k_ids])
                payload = k_pay if payload is None else np.vstack([payload, k_pay])
                if ts_field is not None:
                    lasts = np.concatenate([lasts, b_ts[keep]])
        # Probe-only buckets must not mint state entries — under
        # store-once, most visited buckets hold nothing. A probe-only
        # visit to an EXISTING bucket also skips state.update, which in
        # NoTimeout mode saves the JVM-side store write of the
        # unchanged cohort. (Scope honestly: the Python worker still
        # ships the cohort both ways for every invoked group regardless
        # of update, and with a TTL the setTimeoutDuration refresh
        # below dirties the row anyway — the saving is the store write,
        # and only without a TTL.)
        if ttl_event_ms is not None:
            # Event-horizon bookkeeping: rewrite state only when the
            # membership changed (new stored rows, or members pruned) —
            # a probe-only visit to an unchanged cohort neither extends
            # member lifetimes nor dirties the state row, and the
            # registered timeout (max member + ttl) is still correct.
            if stored_new or pruned:
                if len(ids):
                    state.update(
                        (
                            ids.tolist(),
                            payload.tolist() if payload is not None else [],
                            lasts.tolist(),
                        )
                    )
                    # Alive members have last + ttl > watermark, and
                    # new rows arrive above the watermark (late rows
                    # are engine-filtered), so this is always settable.
                    state.setTimeoutTimestamp(int(lasts.max()) + ttl_event_ms)
                elif state.exists:
                    state.remove()  # fully-expired cohort visited — drop
        elif stored_new:
            # builtin types only: numpy scalars poison the state pickle.
            state.update((ids.tolist(), payload.tolist() if payload is not None else []))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        elif ttl_ms is not None and state.exists:
            state.setTimeoutDuration(ttl_ms)  # any arrival refreshes the horizon
        if parts:
            out = pd.concat(parts, ignore_index=True)
            out[out_a] = out[out_a].astype("int64")
            out[out_b] = out[out_b].astype("int64")
            # Quantized payloads score in their narrow dtype; the output
            # schema is double either way.
            out[out_score] = out[out_score].astype("float64")
            yield out

    return match_bucket
