"""Structured Streaming tests (SURVEY M5): batch-equivalence of the
windowed/sessionized aggregations and exactly-once trusted-sink writes."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from streampro_assignment_etl_spark.functions.exact import dec
from streampro_assignment_etl_spark.streaming import (
    read_events_stream,
    run_stream_to_parquet,
    sessionized_stream,
    windowed_event_counts,
    write_stream_to_trusted,
)
from streampro_assignment_etl_spark.streaming.events_stream import EVENTS_SCHEMA


def _event(i, ts, user, etype, value):
    return {
        "event_id": i,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": json.dumps({"k": i % 7}),
    }


EVENTS = [
    _event(0, "2024-01-01 00:05:00", 1, "view", 10.5),
    _event(1, "2024-01-01 00:45:00", 1, "view", 5.25),
    _event(2, "2024-01-01 01:10:00", 2, "click", 1.0),
    _event(3, "2024-01-01 01:59:59", 1, "view", 2.0),
    _event(4, "2024-01-01 03:00:00", 2, "view", 7.75),
    _event(5, "2024-01-02 00:00:00", 3, "error", 0.5),
]


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "events_a.jsonl").write_text(
        "\n".join(json.dumps(e) for e in EVENTS[:4]) + "\n"
    )
    (d / "events_b.jsonl").write_text(
        "\n".join(json.dumps(e) for e in EVENTS[4:]) + "\n"
    )
    return str(d)


def _batch_events(spark, landing):
    return (
        spark.read.schema(EVENTS_SCHEMA)
        .json(landing)
        .withColumn("ts_event", F.to_timestamp("ts"))
    )


def test_windowed_counts_match_batch(spark, landing, tmp_path):
    stream = windowed_event_counts(read_events_stream(spark, landing))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_stream_to_parquet(stream, out, ckpt, mode="update")

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("window_start", "event_type", "n_events", "total_value")
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in _batch_events(spark, landing)
        .groupBy(F.window("ts_event", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 2, 12)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .collect()
    )
    assert got == batch
    assert len(got) == 5  # (00h view)(01h click)(01h view)(03h view)(00h day2 error)


def test_sessionized_stream_matches_batch(spark, landing, tmp_path):
    out, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ckpt")
    # Append mode: session windows finalize when the watermark passes.
    # First availableNow run seeds state; the re-run resumes from the
    # checkpointed watermark and flushes finalized sessions.
    for _ in range(2):
        stream = sessionized_stream(
            read_events_stream(spark, landing), gap="30 minutes", watermark="1 minute"
        )
        run_stream_to_parquet(stream, out, ckpt, mode="append")

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in _batch_events(spark, landing)
        .groupBy(F.session_window("ts_event", "30 minutes").alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 2, 12)).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("sess.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sess.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "session_value",
        )
        .collect()
    )
    # All but the max-event-time session are past the watermark → flushed.
    assert set(got).issubset(set(batch))
    assert len(got) >= len(batch) - 1


def test_stream_to_trusted_exactly_once(spark, landing, tmp_path):
    trusted, ckpt = str(tmp_path / "trusted"), str(tmp_path / "t_ckpt")
    q = write_stream_to_trusted(read_events_stream(spark, landing), trusted, ckpt)
    q.awaitTermination(300)

    df = spark.read.parquet(trusted)
    assert df.count() == len(EVENTS)
    dates = {r[0] for r in df.select("ingestion_date").distinct().collect()}
    assert dates == {"2024-01-01", "2024-01-02"}

    # Re-run with the same checkpoint and no new files: no duplicates.
    q2 = write_stream_to_trusted(read_events_stream(spark, landing), trusted, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(trusted).count() == len(EVENTS)

    # New file arriving is picked up incrementally.
    import pathlib

    (pathlib.Path(landing) / "events_c.jsonl").write_text(
        json.dumps(_event(6, "2024-01-02 01:00:00", 4, "view", 3.0)) + "\n"
    )
    q3 = write_stream_to_trusted(read_events_stream(spark, landing), trusted, ckpt)
    q3.awaitTermination(300)
    assert spark.read.parquet(trusted).count() == len(EVENTS) + 1

    # Simulate a crash between sink write and checkpoint commit: drop
    # the newest commit marker so the next run REPLAYS that micro-batch.
    # The batch_id-keyed overwrite sink must absorb the replay without
    # duplicating rows — this is the exactly-once claim under retry.
    commits = sorted(
        p for p in (pathlib.Path(ckpt) / "commits").iterdir() if p.name.isdigit()
    )
    commits[-1].unlink()
    crc = commits[-1].with_name(f".{commits[-1].name}.crc")  # checksum-FS sidecar
    if crc.exists():
        crc.unlink()
    q4 = write_stream_to_trusted(read_events_stream(spark, landing), trusted, ckpt)
    q4.awaitTermination(300)
    assert spark.read.parquet(trusted).count() == len(EVENTS) + 1


# -- applyInPandasWithState: cross-batch exact dedup -------------------------
def test_stateful_dedup_across_batches(spark, tmp_path):
    from streampro_assignment_etl_spark.streaming.stateful_dedup import run_dedup_stream

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "dedup_out"), str(tmp_path / "dedup_ckpt")

    # Batch 1: four docs, one in-batch duplicate pair (0 and 2).
    (landing / "docs_a.jsonl").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 0, "text": "alpha beta gamma"},
                {"doc_id": 1, "text": "delta epsilon"},
                {"doc_id": 2, "text": "Alpha  beta GAMMA"},  # dup of 0 after normalize
                {"doc_id": 3, "text": "zeta eta"},
            ]
        )
        + "\n"
    )
    run_dedup_stream(spark, str(landing), out, ckpt)
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {0, 1, 3}  # in-batch dup collapsed to lowest doc_id

    # Batch 2 (new file, resumed checkpoint): repeats of 1 and 3 plus a
    # new doc; only the new doc survives — state crossed the batch
    # boundary and the restart.
    (landing / "docs_b.jsonl").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 10, "text": "delta  epsilon"},  # dup of 1
                {"doc_id": 11, "text": "zeta eta"},  # dup of 3
                {"doc_id": 12, "text": "theta iota"},  # new
            ]
        )
        + "\n"
    )
    run_dedup_stream(spark, str(landing), out, ckpt)
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {0, 1, 3, 12}


# -- stream-static enrichment join -------------------------------------------
def test_stream_static_enrichment_matches_batch(spark, landing, tmp_path):
    """Stream-static join: each micro-batch enriches against a batch
    dimension frame, equals the same join in batch, keeps unmatched
    events (left join), and the static side plans as a broadcast join
    under the session threshold (zero stream-side shuffle)."""
    from streampro_assignment_etl_spark.streaming import enriched_events_stream

    dim = spark.createDataFrame(
        [(1, "Premium"), (2, "Free")], ["user_id", "tier"]
    )
    stream = enriched_events_stream(
        read_events_stream(spark, landing), dim
    ).select("event_id", "user_id", "tier")
    out, ckpt = str(tmp_path / "enr_out"), str(tmp_path / "enr_ckpt")

    def write_batch(df, _):
        df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    batch_df = enriched_events_stream(
        _batch_events(spark, landing), dim
    ).select("event_id", "user_id", "tier")
    assert got == sorted(tuple(r) for r in batch_df.collect())
    # Left semantics: users outside the dim keep their events, tier null.
    assert any(r[2] is None for r in got)
    assert any(r[2] == "Premium" for r in got)
    # Under the session broadcast threshold the tiny dim broadcasts.
    assert "BroadcastHashJoin" in batch_df._jdf.queryExecution().executedPlan().toString()


# -- stream-stream interval join ---------------------------------------------
def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join equals the same join run
    in batch over identical input, and actually produces pairs."""
    from streampro_assignment_etl_spark.streaming.events_stream import (
        click_view_interval_join,
    )

    landing = str(tmp_path / "ss_landing")
    import pathlib

    pathlib.Path(landing).mkdir()
    rows = [
        _event(0, "2024-01-01 10:00:00", 7, "view", 5.0),
        _event(1, "2024-01-01 10:30:00", 7, "click", 1.0),  # joins view 0
        _event(2, "2024-01-01 10:45:00", 7, "view", 2.0),
        _event(3, "2024-01-01 11:20:00", 7, "click", 1.0),  # joins views 0? no (>1h? 10:00+1h=11:00 <11:20 out) -> joins view 2
        _event(4, "2024-01-01 09:00:00", 8, "view", 3.0),
        _event(5, "2024-01-01 11:00:00", 8, "click", 1.0),  # view 4 outside 1h window
    ]
    (pathlib.Path(landing) / "ev.jsonl").write_text(
        "\n".join(json.dumps(e) for e in rows) + "\n"
    )

    def split(src):
        clicks = src.filter(F.col("event_type") == "click")
        views = src.filter(F.col("event_type") == "view")
        return clicks, views

    stream = read_events_stream(spark, landing)
    joined = click_view_interval_join(*split(stream))
    out, ckpt = str(tmp_path / "ss_out"), str(tmp_path / "ss_ckpt")

    def write_batch(df, _):
        df.write.mode("append").parquet(out)

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    batch = sorted(
        tuple(r) for r in click_view_interval_join(*split(_batch_events(spark, landing))).collect()
    )
    assert got == batch
    pairs = {(r[1], r[2]) for r in batch}  # (click_id, view_id)
    assert pairs == {(1, 0), (3, 2)}  # in-window matches only


@pytest.mark.slow
def test_stream_stream_join_late_data_and_state_cleanup(spark, tmp_path):
    """Round-12 VERDICT Next #3, the liveness half: (a) rows behind the
    watermark are DROPPED before they can join — a (view, click) pair
    well inside the horizon produces nothing once the watermark has
    passed them; (b) buffered join state is EVICTED as the watermark
    advances — state after the eviction batch is strictly below its
    peak and bounded by the recent rows, not cumulative input (the
    'state must not grow past the horizon' contract that makes the
    join runnable forever at 100 TB). Watermark state persists in the
    checkpoint, so sequential availableNow drains over one checkpoint
    give deterministic event-time ordering."""
    import pathlib

    from streampro_assignment_etl_spark.streaming.stream_join import (
        view_click_attribution,
    )

    landing = str(tmp_path / "lj_landing")
    pathlib.Path(landing).mkdir()
    out, ckpt = str(tmp_path / "lj_out"), str(tmp_path / "lj_ckpt")
    state_totals = []

    def drain(rows, fname):
        (pathlib.Path(landing) / fname).write_text(
            "\n".join(json.dumps(e) for e in rows) + "\n"
        )
        src = read_events_stream(spark, landing)
        joined = view_click_attribution(
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "view"),
            horizon="30 minutes",
            watermark="10 minutes",
        )

        def write_batch(df, _):
            df.write.mode("append").parquet(out)

        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        prog = q.lastProgress
        state_totals.append(
            sum(op["numRowsTotal"] for op in prog["stateOperators"])
            if prog and prog.get("stateOperators")
            else None
        )

    # drain 1: one attributable pair on time
    drain(
        [
            _event(0, "2024-01-01 10:00:00", 7, "view", 5.0),
            _event(1, "2024-01-01 10:05:00", 7, "click", 1.0),
        ],
        "f1.jsonl",
    )
    got = {(r["click_id"], r["view_id"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 0)}

    # drain 2: far-future events advance the watermark to 13:50
    drain(
        [
            _event(2, "2024-01-01 14:00:00", 9, "view", 2.0),
            _event(3, "2024-01-01 14:10:00", 9, "click", 1.0),
        ],
        "f2.jsonl",
    )
    got = {(r["click_id"], r["view_id"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 0), (3, 2)}

    # drain 3: a LATE pair at ~10:40-10:50 — inside the horizon of each
    # other, but both behind the 13:50 watermark → dropped, no output;
    # this is the watermark's deliberate completeness/liveness trade.
    drain(
        [
            _event(4, "2024-01-01 10:40:00", 7, "view", 3.0),
            _event(5, "2024-01-01 10:50:00", 7, "click", 1.0),
        ],
        "f3.jsonl",
    )
    got = {(r["click_id"], r["view_id"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 0), (3, 2)}  # late pair produced NOTHING

    # state cleanup: drain 3 ran with the advanced watermark, so drain
    # 1's buffered rows (evictable once watermark > ts + horizon +
    # watermark delay) are gone — state did not accumulate all six
    # input rows, and the late rows were never admitted to state.
    assert state_totals[0] is not None
    assert state_totals[2] is not None
    assert state_totals[2] <= state_totals[1], state_totals
    assert state_totals[2] <= 4, state_totals  # ≤ the two recent + slack, not 6


@pytest.mark.slow
def test_chained_join_then_window_agg_matches_batch(spark, tmp_path):
    """Chained stateful operators (stream-stream join → windowed
    aggregation, two state stores in one query): closed windows emitted
    by the stream equal the batch join+GROUP BY over the same input.
    The watermark must propagate THROUGH the join for the window to
    ever close — that propagation is what this pins."""
    import pathlib

    from streampro_assignment_etl_spark.streaming.stream_join import (
        attributed_view_counts,
    )

    landing = str(tmp_path / "cj_landing")
    pathlib.Path(landing).mkdir()
    out, ckpt = str(tmp_path / "cj_out"), str(tmp_path / "cj_ckpt")

    def drain(rows, fname):
        (pathlib.Path(landing) / fname).write_text(
            "\n".join(json.dumps(e) for e in rows) + "\n"
        )
        src = read_events_stream(spark, landing)
        counts = attributed_view_counts(
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "view"),
            horizon="30 minutes",
            watermark="10 minutes",
            window="1 hour",
        )

        def write_batch(df, _):
            df.write.mode("append").parquet(out)

        q = (
            counts.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    data = [
        _event(0, "2024-01-01 10:00:00", 7, "view", 5.0),
        _event(1, "2024-01-01 10:05:00", 7, "click", 1.0),  # 1 view
        _event(2, "2024-01-01 10:10:00", 7, "view", 2.0),
        _event(3, "2024-01-01 10:20:00", 7, "click", 1.0),  # 2 views
        _event(4, "2024-01-01 10:15:00", 8, "view", 3.0),
        _event(5, "2024-01-01 10:25:00", 8, "click", 1.0),  # 1 view
    ]
    drain(data, "f1.jsonl")
    # windows still open: the 10:00-11:00 window closes only when the
    # watermark passes 11:00
    assert not spark.read.parquet(out).count() if pathlib.Path(out).exists() else True

    # advance BOTH streams' watermarks far past the window end (the
    # global watermark is the MIN across the two inputs), pairing with
    # nothing; plus a nudge batch — both state stores evict against
    # the PREVIOUS batch's watermark, so emission lands a batch later
    drain(
        [
            _event(20, "2024-01-01 14:00:00", 10, "view", 2.0),
            _event(21, "2024-01-01 15:00:00", 11, "click", 1.0),
        ],
        "f2.jsonl",
    )
    drain(
        [
            _event(22, "2024-01-01 16:00:00", 10, "view", 2.0),
            _event(23, "2024-01-01 17:00:00", 11, "click", 1.0),
        ],
        "f3.jsonl",
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("window_start", "user_id", "n_attributed_views", "n_clicks")
        .collect()
    )
    ev = _batch_events(spark, str(landing))
    batch = sorted(
        tuple(r)
        for r in attributed_view_counts(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "view"),
            horizon="30 minutes",
            watermark="10 minutes",
            window="1 hour",
        ).collect()
    )
    assert got == batch
    by_user = {(r[1]): r[2] for r in got}
    assert by_user == {7: 3, 8: 1}  # u7: 1+2 attributed views, u8: 1


@pytest.mark.slow
def test_stream_join_hot_key_cap_bounds_state_and_audits(spark, tmp_path):
    """VERDICT r13 #6: the stream-stream join's skew lever. A planted
    hot key (bot user 7, 40 views in the horizon) dominates join state;
    with ``cap_hot_keys`` applied to both inputs the capped join's
    state stays bounded (planted rows never enter the state store),
    the bot's pairs vanish while normal traffic is untouched, and
    ``hot_key_cap_audit`` reports exactly the shed rows. The 1-in-k
    thinning is DETERMINISTIC (replay-stable): two evaluations keep the
    identical row set."""
    import pathlib

    from streampro_assignment_etl_spark.streaming.stream_join import (
        cap_hot_keys,
        hot_key_cap_audit,
        hot_key_stats,
        view_click_attribution,
    )

    landing = str(tmp_path / "hk_landing")
    pathlib.Path(landing).mkdir()
    rows = [_event(i, f"2024-01-01 10:{i % 30:02d}:00", 7, "view", 1.0) for i in range(40)]
    rows += [
        _event(100, "2024-01-01 10:29:00", 7, "click", 1.0),  # bot click
        _event(101, "2024-01-01 10:00:00", 8, "view", 2.0),
        _event(102, "2024-01-01 10:10:00", 8, "click", 1.0),  # joins 101
    ]
    (pathlib.Path(landing) / "ev.jsonl").write_text(
        "\n".join(json.dumps(e) for e in rows) + "\n"
    )

    # audit face: the windowed pre-count flags user 7, not user 8
    stats = {
        (r["user_id"], r["n_rows"]): r["over_threshold"]
        for r in hot_key_stats(
            _batch_events(spark, landing).filter("event_type = 'view'"),
            "user_id", "ts_event", window="1 hour", state_threshold=10,
        ).collect()
    }
    assert stats == {(7, 40): True, (8, 1): False}

    def run(capped: bool, tag: str):
        out, ckpt = str(tmp_path / f"out_{tag}"), str(tmp_path / f"ck_{tag}")
        src = read_events_stream(spark, landing)
        clicks = src.filter(F.col("event_type") == "click")
        views = src.filter(F.col("event_type") == "view")
        if capped:
            clicks = cap_hot_keys(clicks, "user_id", [7])
            views = cap_hot_keys(views, "user_id", [7])
        joined = view_click_attribution(clicks, views, horizon="30 minutes")

        def write_batch(df, _):
            df.write.mode("append").parquet(out)

        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        prog = q.lastProgress
        state = (
            sum(op["numRowsTotal"] for op in prog["stateOperators"])
            if prog and prog.get("stateOperators")
            else 0
        )
        return state, spark.read.parquet(out).collect()

    raw_state, raw_rows = run(False, "raw")
    cap_state, cap_rows = run(True, "cap")
    assert cap_state < raw_state  # planted rows never entered the store
    assert cap_state <= 3  # user 8's view+click (+watermark bookkeeping)
    users = {r["user_id"] for r in cap_rows}
    assert users == {8}  # bot pairs gone, normal traffic intact
    assert {(r["click_id"], r["view_id"]) for r in cap_rows} == {(102, 101)}
    assert any(r["user_id"] == 7 for r in raw_rows)  # uncapped control

    # audit: drop mode sheds all 41 bot rows; thinning keeps a
    # deterministic subset and accounts for every row
    ev = _batch_events(spark, landing)
    drop_audit = hot_key_cap_audit(ev, "user_id", [7]).collect()
    assert [(r["user_id"], r["rows_seen"], r["rows_kept"], r["rows_dropped"]) for r in drop_audit] == [(7, 41, 0, 41)]
    thin_audit = hot_key_cap_audit(
        ev, "user_id", [7], keep_1_in=4, id_col="event_id"
    ).collect()[0]
    assert thin_audit["rows_kept"] + thin_audit["rows_dropped"] == 41
    assert 0 < thin_audit["rows_kept"] < 41
    thin1 = {
        r["event_id"]
        for r in cap_hot_keys(ev, "user_id", [7], keep_1_in=4, id_col="event_id").collect()
    }
    thin2 = {
        r["event_id"]
        for r in cap_hot_keys(ev, "user_id", [7], keep_1_in=4, id_col="event_id").collect()
    }
    assert thin1 == thin2  # deterministic — replay-stable
    assert sum(1 for e in thin1 if e <= 100) == thin_audit["rows_kept"]
    assert {101, 102} <= thin1  # non-hot keys untouched


@pytest.mark.slow
def test_streaming_asof_last_view_matches_batch_asof_operator(spark, tmp_path):
    """The streaming as-of join (join → windowed argmax,
    ``last_view_before_click_stream``) pinned against the BATCH as-of
    operator (``operators/asof.py`` union+window form — the same one
    the driver-checked ``asof_last_view_before_click`` gates) with the
    horizon restriction applied: per click, the latest in-horizon view
    wins with the as-of tie rule; an out-of-horizon prior view matches
    in raw as-of but must NOT appear here; emission waits for the
    click's window to close."""
    import pathlib

    from streampro_assignment_etl_spark.operators.asof import asof_join_backward
    from streampro_assignment_etl_spark.streaming.stream_join import (
        last_view_before_click_stream,
    )

    landing = str(tmp_path / "as_landing")
    pathlib.Path(landing).mkdir()
    out, ckpt = str(tmp_path / "as_out"), str(tmp_path / "as_ckpt")

    def drain(rows, fname):
        (pathlib.Path(landing) / fname).write_text(
            "\n".join(json.dumps(e) for e in rows) + "\n"
        )
        src = read_events_stream(spark, landing)
        last = last_view_before_click_stream(
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "view"),
            horizon="30 minutes",
            watermark="10 minutes",
            window="1 hour",
        )

        def write_batch(df, _):
            df.write.mode("append").parquet(out)

        q = (
            last.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    data = [
        _event(0, "2024-01-01 10:00:00", 7, "view", 5.0),
        _event(1, "2024-01-01 10:05:00", 7, "click", 1.0),  # last = v0
        _event(2, "2024-01-01 10:10:00", 7, "view", 2.0),
        _event(3, "2024-01-01 10:20:00", 7, "click", 1.0),  # last = v2 (not v0)
        _event(4, "2024-01-01 09:00:00", 8, "view", 3.0),
        _event(5, "2024-01-01 10:50:00", 8, "click", 1.0),  # v4 out of horizon
    ]
    drain(data, "f1.jsonl")
    drain(
        [
            _event(20, "2024-01-01 14:00:00", 10, "view", 2.0),
            _event(21, "2024-01-01 15:00:00", 11, "click", 1.0),
        ],
        "f2.jsonl",
    )
    drain(
        [
            _event(22, "2024-01-01 16:00:00", 10, "view", 2.0),
            _event(23, "2024-01-01 17:00:00", 11, "click", 1.0),
        ],
        "f3.jsonl",
    )
    got = {
        (r["click_id"], r["last_view_id"], r["last_view_value"])
        for r in spark.read.parquet(out).collect()
        if r["click_id"] in (1, 3, 5)
    }
    assert got == {(1, 0, 5.0), (3, 2, 2.0)}  # click 5: no in-horizon view

    # batch as-of oracle: unrestricted backward as-of, then the horizon
    # filter — the streamed result must be exactly its matched subset
    ev = _batch_events(spark, str(landing)).withColumn("ts_event", F.col("ts_event"))
    clicks = ev.filter(
        (F.col("event_type") == "click") & F.col("event_id").isin(1, 3, 5)
    ).select("user_id", F.col("ts_event").alias("ts"), F.col("event_id").alias("click_id"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts_event").alias("ts"),
        F.col("event_id").alias("view_id"),
        "value",
    )
    asof = asof_join_backward(
        clicks, views, "user_id", "ts", ["view_id", "value"]
    ).filter(
        F.col("matched_ts") >= F.col("ts") - F.expr("INTERVAL 30 minutes")
    )
    batch = {
        (r["click_id"], r["view_id"], r["value"]) for r in asof.collect()
    }
    assert got == batch


@pytest.mark.slow
def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """The leftOuter face of the stream-stream interval join: a click
    with NO attributable view cannot emit its null row when it
    arrives — a matching view might still come — so Spark holds it
    until the watermark proves no partner can appear, then emits
    (click, null). Pinned: (a) matched pairs emit as in the inner
    join; (b) the unmatched click's null row appears only after a
    LATER batch advances the watermark past its horizon; (c) the final
    streamed result equals the batch left join over the same input —
    eventual consistency with batch, delayed by exactly the watermark
    the semantics require."""
    import pathlib

    from streampro_assignment_etl_spark.streaming.stream_join import (
        view_click_attribution,
    )

    landing = str(tmp_path / "lo_landing")
    pathlib.Path(landing).mkdir()
    out, ckpt = str(tmp_path / "lo_out"), str(tmp_path / "lo_ckpt")

    def drain(rows, fname):
        (pathlib.Path(landing) / fname).write_text(
            "\n".join(json.dumps(e) for e in rows) + "\n"
        )
        src = read_events_stream(spark, landing)
        joined = view_click_attribution(
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "view"),
            horizon="30 minutes",
            watermark="10 minutes",
            join_type="leftOuter",
        )

        def write_batch(df, _):
            df.write.mode("append").parquet(out)

        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    batch1 = [
        _event(0, "2024-01-01 10:00:00", 7, "view", 5.0),
        _event(1, "2024-01-01 10:05:00", 7, "click", 1.0),  # matched
        _event(2, "2024-01-01 10:10:00", 8, "click", 1.0),  # no view: held
    ]
    drain(batch1, "f1.jsonl")
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 0)}  # null row for click 2 NOT emitted yet

    # Far-future events on BOTH streams: the global watermark is the
    # MIN across the two watermarked inputs, so a view-only nudge
    # would leave the click side (and therefore the join) pinned at
    # 10:00. Different users, >30 min apart — the nudges pair with
    # nothing. Second nudge batch: eviction runs against the watermark
    # computed at the END of the previous batch, so the null row emits
    # one batch later — the documented outer-join latency, not a loss.
    nudge = [
        _event(20, "2024-01-01 14:00:00", 10, "view", 2.0),
        _event(21, "2024-01-01 15:00:00", 11, "click", 1.0),
    ]
    drain(nudge, "f2.jsonl")
    drain(
        [
            _event(22, "2024-01-01 16:00:00", 10, "view", 2.0),
            _event(23, "2024-01-01 17:00:00", 11, "click", 1.0),
        ],
        "f3.jsonl",
    )
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.read.parquet(out).collect()
        if r["click_id"] in (1, 2)  # nudge clicks have their own lifecycle
    }
    assert got == {(1, 0), (2, None)}

    # batch equivalence on the settled subset: the same builder on the
    # full static input, restricted to the drain-1 clicks whose
    # watermark window has provably closed
    ev = _batch_events(spark, str(landing))
    batch = {
        (r["click_id"], r["view_id"])
        for r in view_click_attribution(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "view"),
            horizon="30 minutes",
            watermark="10 minutes",
            join_type="leftOuter",
        ).collect()
        if r["click_id"] in (1, 2)
    }
    assert got == batch


# -- streaming fuzzy dedup (MinHash-LSH with per-bucket cohort state) --------
def test_streaming_signature_matches_batch(spark):
    """The stream's map-side signature expression must equal the batch
    minhash_signatures values slot-for-slot — batch and stream have to
    agree on what a near-duplicate is."""
    from streampro_assignment_etl_spark.operators.minhash import (
        minhash_signatures,
        word_shingles,
    )
    from streampro_assignment_etl_spark.streaming.fuzzy_dedup import signature_array

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs today")],
        ["doc_id", "text"],
    )
    k = 16
    stream_form = {
        r["doc_id"]: list(r["sig"])
        for r in docs.select(
            "doc_id", signature_array(word_shingles(F.col("text")), k).alias("sig")
        ).collect()
    }
    batch = minhash_signatures(
        docs.select("doc_id", word_shingles(F.col("text")).alias("sh")),
        "doc_id",
        "sh",
        num_hashes=k,
    )
    batch_form = {
        r["doc_id"]: [r[f"_m{i}"] for i in range(k)] for r in batch.collect()
    }
    assert stream_form == batch_form


def test_streaming_fuzzy_dedup_across_batches(spark, tmp_path):
    """Near-dup pairs are detected in-batch AND across micro-batches
    (checkpoint-restored bucket cohorts), unrelated docs never pair."""
    from streampro_assignment_etl_spark.streaming.fuzzy_dedup import (
        run_fuzzy_dedup_stream,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("kappa", "kappa2")  # one shingle neighborhood differs
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen")

    landing = tmp_path / "fuzzy_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "fuzzy_out"), str(tmp_path / "fuzzy_ckpt")

    (landing / "a.jsonl").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": base},
                {"doc_id": 2, "text": near},   # in-batch near-dup of 1
                {"doc_id": 3, "text": other},
            ]
        )
        + "\n"
    )
    run_fuzzy_dedup_stream(spark, str(landing), out, ckpt, threshold=0.5)
    got1 = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {(1, 2)}

    # Batch 2: a near-dup of doc 1 arrives later — the bucket cohort
    # crossed the batch boundary and the restart.
    (landing / "b.jsonl").write_text(
        # One appended word: 18 of 19 shingles shared (J~0.95), so a
        # band collision is near-certain — the fixture must not hinge
        # on a lucky banding draw at moderate J.
        json.dumps({"doc_id": 10, "text": base + " phi"}) + "\n"
    )
    run_fuzzy_dedup_stream(spark, str(landing), out, ckpt, threshold=0.5)
    got2 = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()}
    assert (1, 10) in got2 and (2, 10) in got2, got2
    assert not any(3 in p for p in got2)


def test_bloom_dedup_across_batches(spark, tmp_path):
    """Bounded-state bloom dedup: exact duplicates are dropped across
    micro-batches and restarts while state stays n_shards fixed-size
    filters; at this scale (far below FP territory) output matches the
    exact-state operator's keep set."""
    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        run_dedup_stream,
    )

    landing = tmp_path / "bloom_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "bloom_out"), str(tmp_path / "bloom_ckpt")

    (landing / "a.jsonl").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 0, "text": "alpha beta gamma"},
                {"doc_id": 1, "text": "delta epsilon"},
                {"doc_id": 2, "text": "Alpha  beta GAMMA"},  # dup of 0 normalized
                {"doc_id": 3, "text": "zeta eta"},
            ]
        )
        + "\n"
    )
    run_dedup_stream(spark, str(landing), out, ckpt, n_shards=64, bloom=True)
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert len(got1) == 3 and 1 in got1 and 3 in got1
    assert len(got1 & {0, 2}) == 1  # dup pair collapsed to one arrival

    (landing / "b.jsonl").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 10, "text": "delta  epsilon"},  # dup of 1
                {"doc_id": 11, "text": "brand new document"},
            ]
        )
        + "\n"
    )
    run_dedup_stream(spark, str(landing), out, ckpt, n_shards=64, bloom=True)
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 11 in got2 and 10 not in got2  # state crossed the restart


def test_sharded_exact_dedup_matches_fine_grained(spark, tmp_path):
    """The sharded-exact operator (64 vectorized state calls per batch)
    must produce bit-identical output to the fine-grained per-fingerprint
    operator across micro-batches: same min-doc_id-per-batch pick for
    in-batch duplicates, same first-batch-wins across the boundary. This
    is the pin that lets the bench headline run the sharded form."""
    import os as _os

    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        run_dedup_stream,
    )

    batches = [
        [
            {"doc_id": 5, "text": "alpha beta gamma"},
            {"doc_id": 2, "text": "Alpha  beta GAMMA"},  # in-batch dup, LOWER id
            {"doc_id": 3, "text": "delta epsilon"},
        ],
        [
            {"doc_id": 10, "text": "delta  epsilon"},  # cross-batch dup
            {"doc_id": 11, "text": "brand new document"},
        ],
    ]
    outs = {}
    for tag, kw in (("fine", {}), ("sharded", {"n_shards": 8})):
        landing = tmp_path / f"{tag}_landing"
        landing.mkdir()
        for i, rows in enumerate(batches):
            f = landing / f"b{i}.jsonl"
            f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
            _os.utime(f, (1_000_000_000 + i * 100,) * 2)
        out, ckpt = str(tmp_path / f"{tag}_out"), str(tmp_path / f"{tag}_ckpt")
        run_dedup_stream(
            spark, str(landing), out, ckpt, max_files_per_trigger=1, **kw
        )
        outs[tag] = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "text", "fingerprint")
            .collect()
        )
    assert outs["sharded"] == outs["fine"]
    kept_ids = {t[0] for t in outs["sharded"]}
    assert kept_ids == {2, 3, 11}  # min-id in-batch pick + cross-batch drop

    # Restart: a third batch through the SAME sharded checkpoint — the
    # array<string> seen-sets must restore across process-level restart
    # semantics (new query, same checkpoint), dropping a dup of batch 0
    # while passing a genuinely new doc.
    landing = tmp_path / "sharded_landing"
    f = landing / "b2.jsonl"
    f.write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 20, "text": "ALPHA beta   gamma"},  # dup of batch 0
                {"doc_id": 21, "text": "omega psi chi"},
            ]
        )
        + "\n"
    )
    _os.utime(f, (1_000_000_300,) * 2)
    out, ckpt = str(tmp_path / "sharded_out"), str(tmp_path / "sharded_ckpt")
    run_dedup_stream(
        spark, str(landing), out, ckpt, max_files_per_trigger=1, n_shards=8
    )
    after = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 21 in after and 20 not in after


def test_watermarked_dedup_builtin_counterpart(spark, tmp_path):
    """dropDuplicatesWithinWatermark is the built-in event-time-bounded
    dedup: a duplicate within the watermark delay is dropped; once the
    watermark passes a fingerprint's event time + delay its state is
    evicted JVM-side and a much-later duplicate is re-admitted. Pins the
    built-in's horizon semantics next to the custom TTL operator's."""
    import os as _os

    from pyspark.sql import types as T

    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        dedup_stream_watermarked,
    )

    landing = tmp_path / "wm_landing"
    landing.mkdir()
    batches = [
        [
            {"doc_id": 1, "ts": "2024-01-01 10:00:00", "text": "alpha beta"},
            {"doc_id": 2, "ts": "2024-01-01 10:20:00", "text": "ALPHA  beta"},  # in-delay dup
        ],
        # Advances the watermark to 21:00 - 1h = 20:00 > 11:00 …
        [{"doc_id": 5, "ts": "2024-01-01 21:00:00", "text": "gamma delta"}],
        # … but the watermark computed from a batch applies from the
        # NEXT batch, and expired state is swept at that batch's END —
        # so this spacer batch is the one that evicts alpha-beta's
        # 10:00 entry (wm now 20:00), and the re-admission probe goes
        # in the batch after it.
        [{"doc_id": 6, "ts": "2024-01-01 21:30:00", "text": "epsilon zeta"}],
        [{"doc_id": 9, "ts": "2024-01-01 21:40:00", "text": "alpha   beta"}],  # re-admitted
    ]
    for i, rows in enumerate(batches):
        f = landing / f"b{i}.jsonl"
        f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withColumn("ts_event", F.to_timestamp("ts"))
    )
    dd = dedup_stream_watermarked(stream, "ts_event", "1 hour")
    out, ckpt = str(tmp_path / "wm_out"), str(tmp_path / "wm_ckpt")
    q = (
        dd.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: df.write.mode("overwrite").parquet(
                f"{out}/batch_id={bid}"
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 5, 6, 9]  # dup-in-delay dropped, post-eviction re-admitted


@pytest.mark.slow
def test_ttl_dedup_evicts_state_after_horizon(spark, tmp_path):
    """TTL dedup: inside the horizon duplicates are dropped; a key idle
    past ttl_seconds is EVICTED (its timeout fires on the next batch it
    has no data in) and a later duplicate is re-admitted as new — the
    bounded-state-by-recency contract. Two independent streams because
    the two behaviors race each other on one checkpoint under scheduler
    load: a LONG-horizon control (suppression can never be disturbed by
    eviction) and a short-horizon eviction stream (b0 admits A; b1 after
    sleeping past the TTL carries only B, firing A's timeout; b2
    re-admits A)."""
    import os as _os
    import time as _time

    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        run_dedup_stream,
    )

    def mkdrain(tag, ttl):
        landing = tmp_path / f"{tag}_landing"
        landing.mkdir()
        out, ckpt = str(tmp_path / f"{tag}_out"), str(tmp_path / f"{tag}_ckpt")

        def drain(i, rows):
            f = landing / f"b{i}.jsonl"
            f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
            _os.utime(f, (1_000_000_000 + i * 100,) * 2)
            run_dedup_stream(
                spark, str(landing), out, ckpt,
                max_files_per_trigger=1, ttl_seconds=ttl,
            )
            return sorted(
                (r["doc_id"], r["fingerprint"])
                for r in spark.read.parquet(out).collect()
            )

        return drain

    # Control stream: a horizon far longer than the test, so timing
    # noise can never evict — a cross-batch duplicate MUST be
    # suppressed. (Kept on its own checkpoint: on the short-TTL stream
    # this assertion would race the eviction sweep of whatever idle
    # gap scheduler load inserts between drains.)
    ctl = mkdrain("ttlctl", 300)
    assert [d for d, _ in ctl(0, [{"doc_id": 1, "text": "alpha beta gamma"}])] == [1]
    got_ctl = ctl(1, [{"doc_id": 4, "text": "ALPHA  beta gamma"}])
    assert [d for d, _ in got_ctl] == [1]  # suppressed inside the horizon

    # Eviction stream: 2 s horizon, 4 s idle — the timeout must fire.
    ev = mkdrain("ttlev", 2)
    got0 = ev(0, [
        {"doc_id": 1, "text": "alpha beta gamma"},
        {"doc_id": 2, "text": "Alpha  beta GAMMA"},  # in-batch dup
    ])
    assert [d for d, _ in got0] == [1]

    _time.sleep(4)  # idle past the 2 s horizon
    got1 = ev(1, [{"doc_id": 5, "text": "delta epsilon"}])
    assert [d for d, _ in got1] == [1, 5]  # A's timeout fired this batch

    got2 = ev(2, [{"doc_id": 9, "text": "alpha  beta gamma"}])
    # A evicted → its duplicate is re-admitted as new.
    assert [d for d, _ in got2] == [1, 5, 9]
    assert got2[0][1] == got2[2][1]  # same fingerprint, admitted twice


def test_bloom_state_version_mismatch_fails_loudly():
    """Round-6 review finding: the slot derivation changed (md5 windows
    → xxhash64+pmod) and an old checkpoint would have resumed silently
    against incompatible bits. The version now rides in the state and a
    mismatch raises instead of leaking duplicates. (v1-era checkpoints
    are additionally rejected by Spark's state-schema validation, since
    adding the version field changed the schema.)"""
    import numpy as np

    from streampro_assignment_etl_spark.streaming import stateful_dedup as sd

    class _StubState:
        exists = True
        get = (1, [0] * (sd.BLOOM_BITS // 64))  # v1-era state

        def update(self, value):  # pragma: no cover — must not be reached
            raise AssertionError("state updated despite version mismatch")

    import pandas as pd

    batch = pd.DataFrame(
        {
            "doc_id": [1],
            "text": ["a"],
            "fingerprint": ["f"],
            "_shard": [0],
            "_slots": [np.arange(sd.BLOOM_HASHES, dtype=np.int64)],
        }
    )
    with pytest.raises(ValueError, match="slot derivation v1"):
        list(sd._emit_bloom_unseen((0,), iter([batch]), _StubState()))


def test_dedup_stream_state_contract(spark, tmp_path):
    """Checkpoints freeze each dedup variant's grouping key, state
    schema and timeout mode: a change to any of them makes an existing
    checkpoint unresumable. Pin all seven on the analyzed plan (no
    stream started), and pin that invalid option combinations fail
    before anything runs."""
    from streampro_assignment_etl_spark.streaming.stateful_dedup import dedup_stream

    active_before = {q.id for q in spark.streams.active}
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).json(str(tmp_path))
    expected = {
        (): ("fingerprint", "struct<seen:int>", "NoTimeout"),
        (("ttl_seconds", 60),): (
            "fingerprint", "struct<seen:int>", "ProcessingTimeTimeout"
        ),
        (("ttl_event_seconds", 60),): (
            "fingerprint", "struct<seen:int,last_ms:bigint>", "EventTimeTimeout"
        ),
        (("n_shards", 8),): ("_shard", "struct<fps:array<string>>", "NoTimeout"),
        (("n_shards", 8), ("ttl_event_seconds", 60)): (
            "_shard",
            "struct<fps:array<string>,lasts:array<bigint>>",
            "EventTimeTimeout",
        ),
        (("n_shards", 8), ("bloom", True)): (
            "_shard", "struct<slot_version:int,bits:array<bigint>>", "NoTimeout"
        ),
        (("n_shards", 8), ("bloom", True), ("ttl_event_seconds", 60)): (
            "_shard",
            "struct<slot_version:int,gen_start_ms:bigint,"
            "bits_cur:array<bigint>,bits_prev:array<bigint>>",
            "EventTimeTimeout",
        ),
    }
    for options, (key, state_type, timeout) in expected.items():
        node = dedup_stream(stream, **dict(options))._jdf.queryExecution().analyzed()
        assert node.nodeName() == "FlatMapGroupsInPandasWithState", options
        keys = node.groupingAttributes()
        assert [keys.apply(i).name() for i in range(keys.size())] == [key], options
        assert node.stateType().simpleString() == state_type, options
        assert node.timeout().toString() == timeout, options

    for options in (
        {"ttl_seconds": 60, "n_shards": 8},
        {"ttl_seconds": 60, "bloom": True, "n_shards": 8},
        {"ttl_seconds": 60, "ttl_event_seconds": 60},
        {"bloom": True},
        {"bloom": True, "ttl_event_seconds": 60},
    ):
        with pytest.raises(ValueError):
            dedup_stream(stream, **options)
    assert {q.id for q in spark.streams.active} == active_before


def test_read_update_sink_keeps_latest_batch_per_key(spark, tmp_path):
    """Two update-mode micro-batches where an hour window spans both:
    the window's updated aggregate lands in batch_id=1 while its stale
    batch-0 row remains — a naive read double-counts it. read_update_sink
    winnows to the latest batch per key and matches the batch recompute."""
    import os as _os
    import pathlib

    from streampro_assignment_etl_spark.streaming import read_update_sink

    landing = pathlib.Path(tmp_path / "upd_landing")
    landing.mkdir()
    b0 = [_event(0, "2024-01-01 10:05:00", 1, "view", 1.0)]
    b1 = [
        _event(1, "2024-01-01 10:40:00", 1, "view", 2.0),  # same 10:00 window
        _event(2, "2024-01-01 12:10:00", 2, "view", 4.0),  # new window
    ]
    for i, rows in enumerate((b0, b1)):
        f = landing / f"ev{i}.jsonl"
        f.write_text("\n".join(json.dumps(e) for e in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    stream = windowed_event_counts(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withColumn("ts_event", F.to_timestamp("ts"))
    )
    out, ckpt = str(tmp_path / "upd_out"), str(tmp_path / "upd_ckpt")
    run_stream_to_parquet(stream, out, ckpt, mode="update")

    naive = spark.read.option("basePath", out).parquet(out)
    assert naive.count() == 3  # stale 10:00 row still present in batch 0

    got = sorted(
        tuple(r)
        for r in read_update_sink(spark, out, ["window_start", "event_type"])
        .select("window_start", "event_type", "n_events", "total_value")
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in windowed_event_counts(_batch_events(spark, str(landing))).collect()
    )
    assert got == batch
    assert any(r[2] == 2 and r[3] == 3.0 for r in got)  # merged 10:00 window


def _drain_windowed(spark, landing, out, ckpt, i, stamps):
    """Land file ``i`` with one view event per stamp, then drain the
    hourly windowed counts (2 h watermark) into ``out`` on ``ckpt``."""
    import os as _os

    f = landing / f"ev{i}.jsonl"
    f.write_text(
        "\n".join(
            json.dumps(_event(10 * i + j, f"2024-01-01 {t}:00", 1, "view", 1.0))
            for j, t in enumerate(stamps)
        )
        + "\n"
    )
    _os.utime(f, (1_000_000_000 + i * 100,) * 2)
    stream = windowed_event_counts(read_events_stream(spark, str(landing)))
    run_stream_to_parquet(stream, out, ckpt, mode="update")


def _sink_batches(spark, out):
    """{batch_id: sorted (window_start, n_events)} of an update sink."""
    import pathlib

    return {
        int(p.name.split("=")[1]): sorted(
            (r["window_start"], r["n_events"])
            for r in spark.read.parquet(str(p)).collect()
        )
        for p in pathlib.Path(out).glob("batch_id=*")
    }


def test_update_drain_runs_one_batch_per_drain(spark, tmp_path):
    """Two update-mode drains of a plain windowed aggregation on one
    checkpoint write exactly batch_id=0 and batch_id=1, both non-empty,
    and commit two batches: no no-data batch ran, so the fast path
    engaged."""
    from streampro_assignment_etl_spark.streaming._drain import needs_no_data_batches

    landing = tmp_path / "one_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "one_out"), str(tmp_path / "one_ckpt")
    stream = windowed_event_counts(read_events_stream(spark, str(landing)))
    assert not needs_no_data_batches(stream, "update")
    assert needs_no_data_batches(stream, "append")

    _drain_windowed(spark, landing, out, ckpt, 0, ["05:10", "10:00"])
    _drain_windowed(spark, landing, out, ckpt, 1, ["11:30"])

    got = _sink_batches(spark, out)
    assert sorted(got) == [0, 1]
    assert all(got.values())
    assert got[1] == [("2024-01-01 11:00:00", 1)]
    commits = (tmp_path / "one_ckpt" / "commits").iterdir()
    assert sorted(p.name for p in commits if not p.name.startswith(".")) == ["0", "1"]


def test_update_drain_late_row_contract(spark, tmp_path):
    """The late-row contract of one batch per update-mode drain (2 h
    watermark). Drain 2's batch filters late rows against drain 1's
    batch watermark, so 05:20 — one drain late, its window still in
    state — is counted and the 05:00 window re-emits its exact
    cumulative count: read_update_sink equals the batch recompute.
    Drain 3 filters against the 08:00 watermark from two drains back,
    so 07:45 is still dropped."""
    from streampro_assignment_etl_spark.streaming import read_update_sink

    landing = tmp_path / "late_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "late_out"), str(tmp_path / "late_ckpt")
    keys = ["window_start", "event_type"]

    def winnowed():
        return sorted(
            (r["window_start"], r["n_events"])
            for r in read_update_sink(spark, out, keys).collect()
        )

    def recompute():
        return sorted(
            (r["window_start"], r["n_events"])
            for r in windowed_event_counts(_batch_events(spark, str(landing))).collect()
        )

    _drain_windowed(spark, landing, out, ckpt, 0, ["05:10", "10:00"])
    _drain_windowed(spark, landing, out, ckpt, 1, ["05:20", "07:30", "09:00"])
    assert _sink_batches(spark, out)[1] == [
        ("2024-01-01 05:00:00", 2),
        ("2024-01-01 07:00:00", 1),
        ("2024-01-01 09:00:00", 1),
    ]
    assert winnowed() == recompute()

    _drain_windowed(spark, landing, out, ckpt, 2, ["07:45", "11:00"])
    assert _sink_batches(spark, out)[2] == [("2024-01-01 11:00:00", 1)]
    dropped = set(recompute()) - set(winnowed())
    assert dropped == {("2024-01-01 07:00:00", 2)}  # 07:45 filtered as late


def test_event_ttl_dedup_drain_keeps_cleanup_batches(spark, tmp_path):
    """An event-TTL dedup holds EventTimeTimeout state, whose timeouts
    fire in no-data batches, so its drains keep them: one data batch
    moves the watermark past alpha's horizon, the cleanup batch that
    follows evicts alpha, and only beta survives in state."""
    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        run_dedup_stream,
    )

    landing = tmp_path / "cl_landing"
    landing.mkdir()
    (landing / "b0.jsonl").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": "alpha", "ts": "2026-01-01T00:00:00"},
                {"doc_id": 2, "text": "beta", "ts": "2026-01-01T05:00:00"},
            ]
        )
        + "\n"
    )
    out, ckpt = str(tmp_path / "cl_out"), tmp_path / "cl_ckpt"
    run_dedup_stream(spark, str(landing), out, str(ckpt), ttl_event_seconds=3600)

    commits = [p for p in (ckpt / "commits").iterdir() if not p.name.startswith(".")]
    assert len(commits) >= 2  # the data batch plus its cleanup batch
    state = spark.read.format("statestore").load(str(ckpt)).collect()
    assert len(state) == 1


def test_drain_confs_restores_prior_values(spark, tmp_path):
    """drain_confs sets only the dials asked for and restores each on
    exit: a key set before gets its value back, a key unset before is
    unset again, and the 4.1-only checksum conf is never touched when
    the caller leaves it None."""
    from streampro_assignment_etl_spark.streaming._drain import (
        CHECKPOINT_CRC,
        NO_DATA_BATCHES,
        SHUFFLE_PARTITIONS,
        drain_confs,
    )

    stream = windowed_event_counts(read_events_stream(spark, str(tmp_path)))
    before = spark.conf.get(SHUFFLE_PARTITIONS)
    crc_before = spark.conf.get(CHECKPOINT_CRC, None)
    with drain_confs(stream, "update", shuffle_partitions=3):
        assert spark.conf.get(SHUFFLE_PARTITIONS) == "3"
        assert spark.conf.get(NO_DATA_BATCHES) == "false"
        assert spark.conf.get(CHECKPOINT_CRC, None) == crc_before
    assert spark.conf.get(SHUFFLE_PARTITIONS) == before
    assert spark.conf.get(NO_DATA_BATCHES, None) is None
    with drain_confs(stream, "append"):
        assert spark.conf.get(NO_DATA_BATCHES, None) is None


def test_drain_timeout_raises_and_stops_query(spark, landing, tmp_path):
    """A drain that cannot finish within timeout_s raises TimeoutError
    instead of returning with a partial sink; the query is stopped and
    the session confs are restored before the error propagates."""
    from streampro_assignment_etl_spark.streaming._drain import NO_DATA_BATCHES

    stream = windowed_event_counts(read_events_stream(spark, landing))
    out, ckpt = str(tmp_path / "to_out"), str(tmp_path / "to_ckpt")
    with pytest.raises(TimeoutError):
        run_stream_to_parquet(stream, out, ckpt, mode="update", timeout_s=0.001)
    assert spark.streams.active == []
    assert spark.conf.get(NO_DATA_BATCHES, None) is None


def test_stream_upsert_sink_latest_per_key_without_winnowing(spark, tmp_path):
    """run_stream_upsert merges each micro-batch into ONE keyed parquet
    table: after a two-batch drain where an hour window spans both
    batches, a NAIVE read of the target equals the batch recompute —
    no batch_id winnowing, no stale rows. A replayed drain over the
    same checkpoint is a no-op (idempotent merge)."""
    import os as _os
    import pathlib

    from streampro_assignment_etl_spark.streaming import run_stream_upsert

    landing = pathlib.Path(tmp_path / "ups_landing")
    landing.mkdir()
    b0 = [_event(0, "2024-01-01 10:05:00", 1, "view", 1.0)]
    b1 = [
        _event(1, "2024-01-01 10:40:00", 1, "view", 2.0),  # updates 10:00 key
        _event(2, "2024-01-01 12:10:00", 2, "view", 4.0),
    ]
    for i, rows in enumerate((b0, b1)):
        f = landing / f"ev{i}.jsonl"
        f.write_text("\n".join(json.dumps(e) for e in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    def stream():
        return windowed_event_counts(
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(landing))
            .withColumn("ts_event", F.to_timestamp("ts"))
        )

    target, ckpt = str(tmp_path / "ups_target"), str(tmp_path / "ups_ckpt")
    keys = ["window_start", "event_type"]
    run_stream_upsert(stream(), target, ckpt, keys)

    got = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    batch = sorted(
        tuple(r)
        for r in windowed_event_counts(_batch_events(spark, str(landing))).collect()
    )
    assert got == batch  # naive read IS latest-per-key
    assert any(r[2] == 2 and r[3] == 3.0 for r in got)  # merged 10:00 window

    # Replay over the same checkpoint: no new data, table unchanged.
    run_stream_upsert(stream(), target, ckpt, keys)
    again = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert again == got


def test_compact_update_sink_read_equivalent_and_fewer_files(spark, tmp_path):
    """compact_update_sink winnows an update-mode sink to the latest row
    per key once: read_update_sink returns a bit-identical frame
    (including each row's original batch_id) before and after, the
    superseded stale row is physically gone (naive read == winnowed
    read), and the file count shrinks."""
    import os as _os
    import pathlib

    from streampro_assignment_etl_spark.streaming import (
        compact_update_sink,
        read_update_sink,
    )

    landing = pathlib.Path(tmp_path / "cmp_landing")
    landing.mkdir()
    b0 = [_event(0, "2024-01-01 10:05:00", 1, "view", 1.0)]
    b1 = [
        _event(1, "2024-01-01 10:40:00", 1, "view", 2.0),  # updates 10:00 key
        _event(2, "2024-01-01 12:10:00", 2, "view", 4.0),
    ]
    for i, rows in enumerate((b0, b1)):
        f = landing / f"ev{i}.jsonl"
        f.write_text("\n".join(json.dumps(e) for e in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    stream = windowed_event_counts(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withColumn("ts_event", F.to_timestamp("ts"))
    )
    out, ckpt = str(tmp_path / "cmp_out"), str(tmp_path / "cmp_ckpt")
    run_stream_to_parquet(stream, out, ckpt, mode="update")

    keys = ["window_start", "event_type"]
    before = sorted(tuple(r) for r in read_update_sink(spark, out, keys).collect())
    files_before = sum(1 for p in pathlib.Path(out).rglob("*.parquet"))
    assert spark.read.option("basePath", out).parquet(out).count() == 3  # stale row

    stats = compact_update_sink(spark, out, keys)
    assert stats["files_before"] == files_before
    assert stats["files_after"] < files_before
    assert stats["rows"] == 2  # stale batch-0 row physically dropped

    after = sorted(tuple(r) for r in read_update_sink(spark, out, keys).collect())
    assert after == before  # bit-identical winnowed view, batch_id included
    naive = sorted(
        tuple(r)
        for r in spark.read.option("basePath", out).parquet(out)
        .select(*read_update_sink(spark, out, keys).columns)
        .collect()
    )
    assert naive == before  # post-compaction, even a naive read is correct


def test_trending_terms_stream_superset_and_bounded_state(spark, tmp_path):
    """Streaming MG: two micro-batches of terms through sharded
    summaries in state. The FINAL summary per shard must (a) hold every
    term whose total count beats N/k — the survivor guarantee across
    the batch boundary — (b) stay within k counters per shard, and
    (c) compose with an exact recount to the exact heavy-hitter set."""
    import os as _os
    import pathlib
    from collections import Counter

    from streampro_assignment_etl_spark.streaming import trending_terms_stream

    landing = pathlib.Path(tmp_path / "hh_landing")
    landing.mkdir()
    # hot crosses N/k only when BOTH batches count (k=5; N=40 → N/k=8;
    # hot appears 5 + 5 = 10 times, 5 in each batch).
    b0 = ["hot"] * 5 + [f"a{i}" for i in range(15)]
    b1 = ["hot"] * 5 + [f"b{i}" for i in range(15)]
    for i, terms in enumerate((b0, b1)):
        f = landing / f"t{i}.jsonl"
        f.write_text("\n".join(json.dumps({"term": t}) for t in terms) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    k, n_shards = 5, 2
    stream = trending_terms_stream(
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing)),
        k=k,
        n_shards=n_shards,
    )
    out, ckpt = str(tmp_path / "hh_out"), str(tmp_path / "hh_ckpt")

    def write_batch(df, batch_id):
        df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # Latest summary per shard (a shard's batch-1 emission supersedes
    # its batch-0 one entirely) — the dedicated multi-row-per-key
    # winnow; read_update_sink would silently truncate (its contract).
    from streampro_assignment_etl_spark.streaming import read_mg_sink

    final = read_mg_sink(spark, out).select("shard", "term", "est").collect()
    all_terms = b0 + b1
    n = len(all_terms)
    true_heavy = {t for t, c in Counter(all_terms).items() if c * k > n}
    cand = {r["term"] for r in final}
    assert true_heavy <= cand  # survivor guarantee crossed the batches
    per_shard = Counter(r["shard"] for r in final)
    assert all(v <= k for v in per_shard.values())  # bounded state

    # Exactness by composition: recount candidates in batch, filter.
    exact = {
        (t, c)
        for t, c in Counter(all_terms).items()
        if t in cand and c * k > n
    }
    assert exact == {(t, c) for t, c in Counter(all_terms).items() if c * k > n}


def test_observed_metrics_on_streaming_query(spark, tmp_path):
    """The observe API's streaming half (pipeline/observability.py
    docstring): df.observe(name, *exprs) on a streaming frame surfaces
    per-batch metrics in StreamingQueryProgress.observedMetrics — free
    in-flight accounting for streams, composable with quality_gate."""
    import os as _os
    import pathlib

    from pyspark.sql import types as T

    from streampro_assignment_etl_spark.pipeline.observability import quality_gate

    landing = pathlib.Path(tmp_path / "obs_landing")
    landing.mkdir()
    rows = [
        {"doc_id": 1, "text": "alpha"},
        {"doc_id": 2, "text": None},
        {"doc_id": 3, "text": "gamma"},
    ]
    (landing / "b0.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .json(str(landing))
        .observe(
            "quality",
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("text").isNull(), 1)).alias("nulls_text"),
        )
    )
    out, ckpt = str(tmp_path / "obs_out"), str(tmp_path / "obs_ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: df.write.mode("overwrite").parquet(f"{out}/batch_id={bid}")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    observed = [
        p["observedMetrics"]["quality"]
        for p in q.recentProgress
        if "quality" in (p.get("observedMetrics") or {})
    ]
    assert observed, "no batch surfaced observed metrics"
    m = observed[0]
    assert m["rows"] == 3 and m["nulls_text"] == 1
    # The same pure gate evaluates streaming metrics rows (Row.asDict).
    assert quality_gate(m.asDict(), 0.25, ["text"]) == [
        "text: 1/3 null rows exceeds 25.0%"
    ]
    assert quality_gate(m.asDict(), 0.5, ["text"]) == []


def test_update_sink_utilities_reject_object_store_uris(spark, tmp_path):
    """compact_update_sink / run_stream_upsert do pathlib bookkeeping
    that silently sees an empty filesystem on s3:// (rglob → nothing,
    Path.exists → False): both must fail loudly instead, pointing at
    the lake staging seam."""
    from streampro_assignment_etl_spark.streaming import (
        compact_update_sink,
        run_stream_upsert,
    )

    with pytest.raises(ValueError, match="local filesystem path"):
        compact_update_sink(spark, "s3://bucket/sink", ["k"])
    with pytest.raises(ValueError, match="local filesystem path"):
        run_stream_upsert(None, "s3://bucket/target", str(tmp_path / "ck"), ["k"])


def test_compact_update_sink_refuses_summary_shaped_sink(spark, tmp_path):
    """A sink with >1 row per (key, batch_id) — the MG summary shape —
    must raise instead of being winnowed down to one arbitrary row per
    key (permanent data loss)."""
    from streampro_assignment_etl_spark.streaming import compact_update_sink

    out = str(tmp_path / "mg_like")
    spark.createDataFrame(
        [("a", 1, 0), ("a", 2, 0), ("b", 5, 0)], ["term", "est", "batch_id"]
    ).write.partitionBy("batch_id").parquet(out)
    with pytest.raises(ValueError, match="summary-style"):
        compact_update_sink(spark, out, ["term"])


def test_compact_update_sink_honors_byte_target_with_one_batch(spark, tmp_path):
    """With ONE surviving batch_id and a tiny target_file_bytes, the
    rewrite must still split into multiple files (the old
    repartition(n, 'batch_id') collapsed to |distinct batch_id| files
    regardless of the byte target)."""
    from streampro_assignment_etl_spark.streaming import (
        compact_update_sink,
        read_update_sink,
    )
    import pathlib

    out = str(tmp_path / "one_batch")
    spark.range(2000).selectExpr(
        "id AS k", "repeat(uuid(), 8) AS payload", "CAST(0 AS LONG) AS batch_id"
    ).coalesce(1).write.partitionBy("batch_id").parquet(out)

    before = read_update_sink(spark, out, ["k"]).count()
    stats = compact_update_sink(spark, out, ["k"], target_file_bytes=16 * 1024)
    assert stats["rows"] == before
    files = [p for p in pathlib.Path(out).rglob("*.parquet")]
    assert len(files) > 1, "byte target ignored: single-batch sink collapsed to 1 file"


def test_run_stream_upsert_bootstrap_leaves_no_staging_debris(spark, tmp_path):
    """The staged bootstrap must end with exactly the target dir — no
    hidden .boot-* staging siblings left behind on the happy path."""
    import os as _os
    import pathlib

    from streampro_assignment_etl_spark.streaming import run_stream_upsert
    from streampro_assignment_etl_spark.streaming.events_stream import (
        windowed_event_counts,
    )

    landing = pathlib.Path(tmp_path / "boot_landing")
    landing.mkdir()
    f = landing / "ev0.jsonl"
    f.write_text(json.dumps(_event(0, "2024-01-01 10:05:00", 1, "view", 1.0)) + "\n")
    _os.utime(f, (1_000_000_000,) * 2)

    stream = windowed_event_counts(
        spark.readStream.schema(EVENTS_SCHEMA)
        .json(str(landing))
        .withColumn("ts_event", F.to_timestamp("ts"))
    )
    target = tmp_path / "boot_target"
    run_stream_upsert(
        stream, str(target), str(tmp_path / "boot_ckpt"), ["window_start", "event_type"]
    )
    assert target.exists() and spark.read.parquet(str(target)).count() == 1
    debris = [p.name for p in target.parent.iterdir() if p.name.startswith(".boot_target.boot-")]
    assert debris == []


def test_run_stream_upsert_accepts_file_uri(spark, tmp_path):
    """A file:// target URI must normalize once and keep working across
    the bootstrap AND merge batches (review find: the raw URI reached
    merge_upsert's pathlib bookkeeping as a relative 'file:/...'
    path)."""
    import os as _os
    import pathlib

    from streampro_assignment_etl_spark.streaming import run_stream_upsert
    from streampro_assignment_etl_spark.streaming.events_stream import (
        windowed_event_counts,
    )

    landing = pathlib.Path(tmp_path / "uri_landing")
    landing.mkdir()
    b0 = [_event(0, "2024-01-01 10:05:00", 1, "view", 1.0)]
    b1 = [_event(1, "2024-01-01 10:40:00", 1, "view", 2.0)]
    for i, rows in enumerate((b0, b1)):
        f = landing / f"ev{i}.jsonl"
        f.write_text("\n".join(json.dumps(e) for e in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    stream = windowed_event_counts(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .withColumn("ts_event", F.to_timestamp("ts"))
    )
    target = tmp_path / "uri_target"
    run_stream_upsert(
        stream,
        f"file://{target}",
        str(tmp_path / "uri_ckpt"),
        ["window_start", "event_type"],
    )
    rows = spark.read.parquet(str(target)).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 2  # both batches merged


def test_writers_reject_object_store_uris(spark, tmp_path):
    """The still-pathlib staged-swap writers own the hazard themselves:
    direct calls with an object-store URI fail loudly instead of
    silently compacting-to-one-file / overwriting. (compact_parquet
    left this list in round 16 — an object-store URI now ROUTES to the
    manifest-swap remote compaction instead of raising; moto tests pin
    that path. Round 17: merge_upsert's PARTITIONED route went remote
    the same way, so only the whole-table merge and the rollup writer
    remain local-only — the whole-table refusal names the partitioned
    alternative.)"""
    from streampro_assignment_etl_spark.pipeline.writers import (
        incremental_rollup,
        merge_upsert,
    )
    from streampro_assignment_etl_spark.streaming.events_stream import (
        compact_update_sink,
    )

    df = spark.range(3)
    with pytest.raises(ValueError, match="partition_col"):
        merge_upsert(spark, "hdfs://nn/table", df, ("id",))
    with pytest.raises(ValueError, match="local filesystem path"):
        incremental_rollup(spark, "s3://bucket/rollup", df, ("id",), {"n": ("count", "id")})
    with pytest.raises(ValueError, match="local filesystem path"):
        compact_update_sink(spark, "s3://bucket/sink", ["id"])


def test_run_stream_upsert_reclaims_crashed_bootstrap_debris(spark, tmp_path):
    """A .boot-* staging dir left by a crash between the staging write
    and the rename must be reclaimed by the next bootstrap (replay
    rewrites the same rows, so dropping stale staging is always safe)."""
    import os as _os
    import pathlib

    from streampro_assignment_etl_spark.streaming import run_stream_upsert
    from streampro_assignment_etl_spark.streaming.events_stream import (
        windowed_event_counts,
    )

    landing = pathlib.Path(tmp_path / "crash_landing")
    landing.mkdir()
    f = landing / "ev0.jsonl"
    f.write_text(json.dumps(_event(0, "2024-01-01 10:05:00", 1, "view", 1.0)) + "\n")
    _os.utime(f, (1_000_000_000,) * 2)

    target = tmp_path / "crash_target"
    # Simulated crash artifact: a half-written staging dir.
    stale = tmp_path / ".crash_target.boot-deadbeef"
    stale.mkdir()
    (stale / "part-orphan.parquet").write_bytes(b"not parquet")

    stream = windowed_event_counts(
        spark.readStream.schema(EVENTS_SCHEMA)
        .json(str(landing))
        .withColumn("ts_event", F.to_timestamp("ts"))
    )
    run_stream_upsert(
        stream, str(target), str(tmp_path / "crash_ckpt"), ["window_start", "event_type"]
    )
    assert target.exists() and spark.read.parquet(str(target)).count() == 1
    assert not stale.exists()  # debris reclaimed


def test_streaming_embedding_dedup_across_batches_and_parity(spark, tmp_path):
    """Embedding near-dup pairs (exact cosine >= τ over SRP bucket
    cohorts): detected in-batch AND across micro-batches/restarts;
    unrelated vectors never pair; the full pair set equals a batch
    reference applying the identical collision rule (bucket sets
    intersect ⇔ base buckets within Hamming 2) + exact cosine."""
    import math
    import random

    from streampro_assignment_etl_spark.operators.similarity import hyperplanes
    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        run_embedding_dedup_stream,
    )

    rng = random.Random(7)
    dim, n_planes, tau = 16, 6, 0.95

    def rand_vec():
        return [rng.gauss(0, 1) for _ in range(dim)]

    def perturb(v, eps=0.05):
        return [x + rng.gauss(0, eps) for x in v]

    base_vecs = {i: rand_vec() for i in range(8)}
    batch0 = [
        {"vec_id": i, "embedding": base_vecs[i]} for i in range(8)
    ] + [{"vec_id": 100, "embedding": perturb(base_vecs[0])}]  # in-batch dup of 0
    batch1 = [
        {"vec_id": 200, "embedding": perturb(base_vecs[3])},  # cross-batch dup of 3
        {"vec_id": 201, "embedding": rand_vec()},
    ]

    landing = tmp_path / "edup_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "edup_out"), str(tmp_path / "edup_ckpt")
    (landing / "a.jsonl").write_text(
        "\n".join(json.dumps(d) for d in batch0) + "\n"
    )
    run_embedding_dedup_stream(
        spark, str(landing), out, ckpt, threshold=tau, n_planes=n_planes, dim=dim
    )
    got1 = {(r["vec_a"], r["vec_b"]) for r in spark.read.parquet(out).collect()}
    assert (0, 100) in got1

    (landing / "b.jsonl").write_text(
        "\n".join(json.dumps(d) for d in batch1) + "\n"
    )
    run_embedding_dedup_stream(
        spark, str(landing), out, ckpt, threshold=tau, n_planes=n_planes, dim=dim
    )
    got = {(r["vec_a"], r["vec_b"]) for r in spark.read.parquet(out).collect()}
    assert (3, 200) in got  # bucket cohort survived the batch boundary + restart

    # Batch reference with the IDENTICAL collision + cosine rule.
    planes = hyperplanes(dim, n_planes)
    every = {d["vec_id"]: d["embedding"] for d in batch0 + batch1}

    def bucket(v):
        b = 0
        for j, w in enumerate(planes):
            acc = 0.0
            for x, y in zip(v, w):
                acc += x * y
            if acc >= 0:
                b |= 1 << j
        return b

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    expect = set()
    items = sorted(every)
    for i, a in enumerate(items):
        for b in items[i + 1 :]:
            ham = bin(bucket(every[a]) ^ bucket(every[b])).count("1")
            if ham > 2:
                continue
            ua, ub = unit(every[a]), unit(every[b])
            if sum(x * y for x, y in zip(ua, ub)) >= tau:
                expect.add((a, b))
    assert got == expect

    # Round-9 state accounting (the round-8 weak's fix): store-once
    # probing persists each finite vector EXACTLY once — one state row
    # under its base bucket, zero under the probe ring. Read the state
    # store back from the checkpoint and count.
    state = spark.read.format("statestore").load(ckpt)
    stored = [
        i for r in state.collect() for i in r["value"]["groupState"]["ids"]
    ]
    assert sorted(stored) == sorted(every)  # 1 row per vector, none missing


def test_embedding_dedup_probe_radius_one_narrows_recall(spark, tmp_path):
    """probe_radius=1 trades recall for a 3× smaller probe ring: the
    emitted pair set is exactly the Hamming-≤1 + exact-cosine rule
    (strictly contained in the default radius-2 rule)."""
    import math
    import random

    from streampro_assignment_etl_spark.operators.similarity import hyperplanes
    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        run_embedding_dedup_stream,
    )

    rng = random.Random(11)
    dim, n_planes, tau = 16, 6, 0.9

    vecs = {}
    for i in range(10):
        vecs[i] = [rng.gauss(0, 1) for _ in range(dim)]
        # a close-but-perturbed twin: high cosine, bucket may drift 1-2 bits
        vecs[100 + i] = [x + rng.gauss(0, 0.12) for x in vecs[i]]

    landing = tmp_path / "edup1_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "edup1_out"), str(tmp_path / "edup1_ckpt")
    (landing / "a.jsonl").write_text(
        "\n".join(
            json.dumps({"vec_id": k, "embedding": v}) for k, v in vecs.items()
        )
        + "\n"
    )
    run_embedding_dedup_stream(
        spark, str(landing), out, ckpt,
        threshold=tau, n_planes=n_planes, dim=dim, probe_radius=1,
    )
    got = {(r["vec_a"], r["vec_b"]) for r in spark.read.parquet(out).collect()}

    planes = hyperplanes(dim, n_planes)

    def bucket(v):
        b = 0
        for j, w in enumerate(planes):
            if sum(x * y for x, y in zip(v, w)) >= 0:
                b |= 1 << j
        return b

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    def rule(max_ham):
        items = sorted(vecs)
        return {
            (a, b)
            for i, a in enumerate(items)
            for b in items[i + 1 :]
            if bin(bucket(vecs[a]) ^ bucket(vecs[b])).count("1") <= max_ham
            and cos(vecs[a], vecs[b]) >= tau
        }

    assert got == rule(1)
    assert rule(1) <= rule(2)  # the recall trade is one-directional
    # The fixture must actually exercise the gap, or this test is vacuous.
    assert rule(1) and rule(2) - rule(1), (rule(1), rule(2))


@pytest.mark.slow
def test_embedding_dedup_ttl_evicts_idle_cohorts(spark, tmp_path):
    """ttl_seconds bounds state to a recency horizon, asserted
    BEHAVIORALLY (a short-TTL drain's own cleanup batches can evict at
    any point — the engine schedules a state-cleanup batch at the
    earliest timeout expiry, so a state-store read between runs races
    it): a vector seen before the horizon lapsed does NOT pair with
    later copies (its cohort was evicted), while the later batch's
    in-batch pairing still works — the matcher ran and matched, and
    the only thing missing was the evicted state. A no-TTL control on
    the identical replay pairs across the same gap, pinning the
    eviction to the TTL rather than to the gap."""
    import time

    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        run_embedding_dedup_stream,
    )

    dim = 8
    landing = tmp_path / "ettl_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "ettl_out"), str(tmp_path / "ettl_ckpt")
    v = [1.0] + [0.0] * (dim - 1)

    (landing / "a.jsonl").write_text(json.dumps({"vec_id": 1, "embedding": v}) + "\n")
    run_embedding_dedup_stream(
        spark, str(landing), out, ckpt, dim=dim, ttl_seconds=2
    )
    time.sleep(2.5)  # let vec 1's horizon lapse
    # Service the expired timeout DETERMINISTICALLY: a batch with data
    # only for OTHER buckets fires timeouts for keys without data. The
    # exact opposite vector's SRP bucket is the bitwise complement —
    # Hamming n_planes=6 from vec 1's, outside even the radius-2 probe
    # ring, so nothing about this arrival touches (or refreshes) vec
    # 1's cohort.
    neg = [-x for x in v]
    (landing / "b.jsonl").write_text(
        json.dumps({"vec_id": 50, "embedding": neg}) + "\n"
    )
    run_embedding_dedup_stream(
        spark, str(landing), out, ckpt, dim=dim, ttl_seconds=2
    )
    # Copies of vec 1 arrive: they pair with each other (in-batch) but
    # not with the evicted vec 1.
    (landing / "c.jsonl").write_text(
        "\n".join(json.dumps({"vec_id": i, "embedding": v}) for i in (99, 100))
        + "\n"
    )
    run_embedding_dedup_stream(
        spark, str(landing), out, ckpt, dim=dim, ttl_seconds=2
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in spark.read.parquet(out).collect()}
    assert (99, 100) in pairs  # matcher alive and matching in-batch
    assert not any(1 in p for p in pairs), pairs  # evicted: no cross-drain pair

    # No-TTL control: identical replay across the same gap DOES pair.
    out2, ckpt2 = str(tmp_path / "ettl_out2"), str(tmp_path / "ettl_ckpt2")
    land2 = tmp_path / "ettl_landing2"
    land2.mkdir()
    (land2 / "a.jsonl").write_text(json.dumps({"vec_id": 1, "embedding": v}) + "\n")
    run_embedding_dedup_stream(spark, str(land2), out2, ckpt2, dim=dim)
    (land2 / "b.jsonl").write_text(json.dumps({"vec_id": 99, "embedding": v}) + "\n")
    run_embedding_dedup_stream(spark, str(land2), out2, ckpt2, dim=dim)
    pairs2 = {(r["vec_a"], r["vec_b"]) for r in spark.read.parquet(out2).collect()}
    assert (1, 99) in pairs2


def test_embedding_dedup_dim_mismatch_fails_loudly(spark, tmp_path):
    """A row whose embedding length differs from ``dim`` must fail the
    query (assert_true), not silently null-pad every plane dot and
    funnel the whole stream into bucket 0."""
    import pytest

    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        run_embedding_dedup_stream,
    )

    landing = tmp_path / "edim_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "edim_out"), str(tmp_path / "edim_ckpt")
    (landing / "a.jsonl").write_text(
        json.dumps({"vec_id": 7, "embedding": [1.0, 2.0, 3.0]}) + "\n"
    )
    with pytest.raises(Exception, match="embedding length != dim"):
        run_embedding_dedup_stream(
            spark, str(landing), out, ckpt, dim=16, timeout_s=60
        )


def test_embedding_dedup_quantized_state_same_pairs_half_bytes(spark, tmp_path):
    """quantize_state=True stores float32 unit vectors (state schema is
    array<float>, half the payload bytes) and — on a fixture whose
    cosine margins dwarf the ~1e-6 quantization error — emits exactly
    the same pair set as the float64 default."""
    import random

    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        run_embedding_dedup_stream,
    )

    rng = random.Random(3)
    dim, tau = 16, 0.95
    base_vecs = {i: [rng.gauss(0, 1) for _ in range(dim)] for i in range(6)}
    rows = [{"vec_id": i, "embedding": v} for i, v in base_vecs.items()] + [
        {"vec_id": 100 + i, "embedding": [x + rng.gauss(0, 0.03) for x in v]}
        for i, v in base_vecs.items()
    ]
    landing = tmp_path / "eq_landing"
    landing.mkdir()
    (landing / "a.jsonl").write_text("\n".join(json.dumps(d) for d in rows) + "\n")

    got = {}
    for tag, quant in (("f64", False), ("f32", True)):
        out, ckpt = str(tmp_path / f"eq_out_{tag}"), str(tmp_path / f"eq_ckpt_{tag}")
        run_embedding_dedup_stream(
            spark, str(landing), out, ckpt,
            threshold=tau, dim=dim, quantize_state=quant,
        )
        got[tag] = {(r["vec_a"], r["vec_b"]) for r in spark.read.parquet(out).collect()}

    assert got["f64"] == got["f32"]
    assert got["f64"], got  # fixture must actually produce pairs

    # The quantized checkpoint's state schema really is float32.
    st = spark.read.format("statestore").load(str(tmp_path / "eq_ckpt_f32"))
    vec_type = st.schema["value"].dataType["groupState"].dataType["vecs"].dataType
    assert vec_type.elementType.elementType.typeName() == "float", vec_type


@pytest.mark.slow
def test_fuzzy_dedup_ttl_evicts_idle_cohorts(spark, tmp_path):
    """The TTL hook works through the fuzzy stream too (same shared
    factory as the embedding dedup): a band cohort idle past the
    horizon is evicted at the next batch that doesn't touch it."""
    import time

    from streampro_assignment_etl_spark.streaming.fuzzy_dedup import (
        run_fuzzy_dedup_stream,
    )

    a = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen")
    landing = tmp_path / "fttl_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "fttl_out"), str(tmp_path / "fttl_ckpt")

    (landing / "a.jsonl").write_text(json.dumps({"doc_id": 1, "text": a}) + "\n")
    run_fuzzy_dedup_stream(spark, str(landing), out, ckpt, ttl_seconds=2)
    time.sleep(2.5)  # let doc 1's horizon lapse
    # Service the expired timeout deterministically: an UNRELATED doc's
    # batch has no data for doc 1's band buckets, so their expired
    # timeouts fire there (a near-dup arriving directly would land IN
    # those buckets and refresh instead of evicting — last-seen TTL
    # semantics, same as dedup_stream_ttl).
    (landing / "b.jsonl").write_text(json.dumps({"doc_id": 2, "text": other}) + "\n")
    run_fuzzy_dedup_stream(spark, str(landing), out, ckpt, ttl_seconds=2)
    # Near-dups of doc 1 arrive: they pair with each other (in-batch)
    # but not with the evicted doc 1.
    (landing / "c.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": a + " phi"}) for i in (10, 11)
        )
        + "\n"
    )
    run_fuzzy_dedup_stream(spark, str(landing), out, ckpt, ttl_seconds=2)
    pairs = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()}
    assert (10, 11) in pairs
    assert not any(1 in p for p in pairs), pairs  # evicted: no cross-drain pair


@pytest.mark.slow
def test_event_ttl_dedup_evicts_by_event_time_and_replays_deterministically(
    spark, tmp_path
):
    """EVENT-time TTL dedup (dedup_stream_event_ttl): the horizon is
    watermark time, so eviction is driven by the DATA — no sleeps
    anywhere in this test — and a backfill replay of the same files
    converges to the same surviving state whether it runs as one
    micro-batch or many. 1 h horizon: a duplicate 10 min later is
    suppressed; after other docs advance the watermark 2 h, the same
    fingerprint is re-admitted as new; a fingerprint seen only at T0
    is evicted by watermark passage in BOTH replay shapes."""
    import os as _os

    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        run_dedup_stream,
    )

    landing = tmp_path / "ev_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "ev_out"), str(tmp_path / "ev_ckpt")

    batches = [
        [
            {"doc_id": 1, "text": "alpha beta gamma", "ts": "2026-01-01T00:00:00"},
            {"doc_id": 7, "text": "omega psi", "ts": "2026-01-01T00:00:00"},
        ],
        [
            # duplicate inside the horizon (wm = T0 during this batch)
            {"doc_id": 2, "text": "ALPHA  beta gamma", "ts": "2026-01-01T00:10:00"},
            # advances the watermark 2 h for the NEXT batch
            {"doc_id": 3, "text": "delta epsilon", "ts": "2026-01-01T02:00:00"},
        ],
        [
            # same content again: stored last_event+1h is now BEHIND the
            # watermark -> re-admitted as new (event-time eviction)
            {"doc_id": 9, "text": "alpha beta  GAMMA", "ts": "2026-01-01T02:05:00"},
        ],
    ]

    def write(i, rows):
        f = landing / f"b{i}.jsonl"
        f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    def emitted(o):
        return sorted(r["doc_id"] for r in spark.read.parquet(o).collect())

    write(0, batches[0])
    run_dedup_stream(
        spark, str(landing), out, ckpt,
        max_files_per_trigger=1, ttl_event_seconds=3600,
    )
    assert emitted(out) == [1, 7]

    write(1, batches[1])
    run_dedup_stream(
        spark, str(landing), out, ckpt,
        max_files_per_trigger=1, ttl_event_seconds=3600,
    )
    assert emitted(out) == [1, 3, 7]  # doc 2 suppressed inside horizon

    write(2, batches[2])
    run_dedup_stream(
        spark, str(landing), out, ckpt,
        max_files_per_trigger=1, ttl_event_seconds=3600,
    )
    assert emitted(out) == [1, 3, 7, 9]  # re-admitted after event-time horizon

    def surviving_state(c):
        st = spark.read.format("statestore").load(c)
        return sorted(
            (r["key"]["fingerprint"], tuple(r["value"]["groupState"]))
            for r in st.collect()
        )

    multi = surviving_state(ckpt)
    # omega (seen only at T0) was evicted by watermark passage; alpha
    # and delta survive with their max event times.
    assert len(multi) == 2

    # Replay determinism: the SAME files in ONE batch on a fresh
    # checkpoint -> identical surviving state (fingerprint + last_ms).
    out2, ckpt2 = str(tmp_path / "ev_out2"), str(tmp_path / "ev_ckpt2")
    run_dedup_stream(spark, str(landing), out2, ckpt2, ttl_event_seconds=3600)
    assert surviving_state(ckpt2) == multi


@pytest.mark.slow
def test_embedding_dedup_event_ttl_per_member_eviction_and_replay(spark, tmp_path):
    """EVENT-time cohort horizon (ttl_event_seconds): members expire by
    their OWN event age against the watermark — no sleeps anywhere. A
    near-dup arriving 10 min after its twin pairs; the same content
    arriving after other traffic advanced the watermark past the
    cohort's horizon pairs with NOTHING (the expired members are pruned
    before scoring, even though their timeout only fires later), and
    the physical state for the visited bucket holds only the fresh
    member. Replay determinism: emissions inside one giant backfill
    batch are watermark-granular (a single batch sees watermark 0, so
    it can emit pairs the original cadence suppressed — same lag as
    the fingerprint variant), but the surviving LIVE state (members
    within the horizon of the final watermark) is identical between
    one-batch and many-batch replays of the same files."""
    import os as _os

    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        run_embedding_dedup_stream,
    )

    dim = 8
    base_vec = [1.0] + [0.0] * (dim - 1)

    def perturb(eps):
        v = list(base_vec)
        v[1] = eps
        return v

    ortho = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    batches = [
        [{"vec_id": 1, "embedding": base_vec, "ts": "2026-01-01T00:00:00"}],
        [
            {"vec_id": 2, "embedding": perturb(0.05), "ts": "2026-01-01T00:10:00"},
            # advances the watermark 2 h for the NEXT batch
            {"vec_id": 100, "embedding": ortho, "ts": "2026-01-01T02:00:00"},
        ],
        [{"vec_id": 3, "embedding": perturb(0.08), "ts": "2026-01-01T02:05:00"}],
    ]

    landing = tmp_path / "cev_landing"
    landing.mkdir()

    def write(i, rows):
        f = landing / f"b{i}.jsonl"
        f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    def drain(tag, mfpt):
        out, ckpt = str(tmp_path / f"{tag}_out"), str(tmp_path / f"{tag}_ckpt")
        run_embedding_dedup_stream(
            spark, str(landing), out, ckpt, threshold=0.9, dim=dim,
            ttl_event_seconds=3600, max_files_per_trigger=mfpt,
        )
        try:
            pairs = sorted(
                (r["vec_a"], r["vec_b"])
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            pairs = []
        return pairs, ckpt

    write(0, batches[0])
    pairs, ckpt = drain("m", 1)
    assert pairs == []
    write(1, batches[1])
    pairs, _ = drain("m", 1)
    assert pairs == [(1, 2)]  # inside the horizon
    write(2, batches[2])
    pairs, _ = drain("m", 1)
    # vec 3's twins are beyond the event horizon -> no new pair, and
    # the visited bucket's physical state was pruned to the fresh
    # member only.
    assert pairs == [(1, 2)]

    def state_rows(c):
        st = spark.read.format("statestore").load(c)
        return [
            (
                r["key"]["bucket"],
                list(r["value"]["groupState"]["ids"]),
                list(r["value"]["groupState"]["lasts"]),
            )
            for r in st.collect()
        ]

    multi = state_rows(ckpt)
    assert sorted(ids for _, ids, _ in multi) == [[3], [100]]

    # One-batch backfill replay on a fresh checkpoint.
    _, ckpt1 = drain("one", None)

    ttl_ms = 3600 * 1000
    final_wm = 1767233100000  # 2026-01-01T02:05:00 epoch ms

    def live(rows):
        return {
            (bucket, i, last)
            for bucket, ids, lasts in rows
            for i, last in zip(ids, lasts)
            if last + ttl_ms > final_wm
        }

    assert live(state_rows(ckpt1)) == live(multi)


@pytest.mark.slow
def test_fuzzy_dedup_event_ttl_prunes_members_by_event_age(spark, tmp_path):
    """Event-horizon lever on the MinHash cohort (same factory contract
    as the embedding test): a near-dup inside the horizon pairs; after
    other documents advance the watermark past the stored member's
    event age, the same near-dup content pairs with nothing — member
    pruned before scoring, no sleeps."""
    import os as _os

    from streampro_assignment_etl_spark.streaming.fuzzy_dedup import (
        run_fuzzy_dedup_stream,
    )

    body = "the quick brown fox jumps over the lazy dog again and again " * 3
    other = "completely different content about distributed query engines " * 3
    batches = [
        [{"doc_id": 1, "text": body, "ts": "2026-01-01T00:00:00"}],
        [
            {"doc_id": 2, "text": body + "tail", "ts": "2026-01-01T00:10:00"},
            {"doc_id": 50, "text": other, "ts": "2026-01-01T02:00:00"},
        ],
        [{"doc_id": 3, "text": body + "coda", "ts": "2026-01-01T02:05:00"}],
    ]
    landing = tmp_path / "fev_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "fev_out"), str(tmp_path / "fev_ckpt")

    expected = []
    for i, rows in enumerate(batches):
        f = landing / f"b{i}.jsonl"
        f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)
        run_fuzzy_dedup_stream(
            spark, str(landing), out, ckpt, threshold=0.5,
            ttl_event_seconds=3600, max_files_per_trigger=1,
        )
        if i == 1:
            expected = [(1, 2)]
        got = sorted(
            {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()}
        ) if (tmp_path / "fev_out").exists() else []
        assert got == expected, (i, got)
    # doc 3 found nothing: docs 1 and 2 were beyond the event horizon.


def test_event_ttl_builders_require_utc_session(spark):
    """Review finding (round 10): the event-horizon state functions
    convert Arrow-delivered tz-NAIVE timestamps straight to epoch ms,
    which only matches the watermark/timeout epoch frame under a UTC
    session timezone — on any other zone the horizon is off by the
    offset (westward zones kill the query, eastward zones silently
    widen every member's horizon). All three event-TTL builders must
    refuse a non-UTC session loudly, at build time."""
    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        embedding_dedup_stream,
    )
    from streampro_assignment_etl_spark.streaming.fuzzy_dedup import (
        fuzzy_dedup_stream,
    )
    from streampro_assignment_etl_spark.streaming.stateful_dedup import dedup_stream

    df = spark.createDataFrame([(1,)], "x int")  # guard fires pre-plan
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        with pytest.raises(ValueError, match="timeZone=UTC"):
            dedup_stream(df, ttl_event_seconds=60)
        with pytest.raises(ValueError, match="timeZone=UTC"):
            fuzzy_dedup_stream(df, ttl_event_seconds=60)
        with pytest.raises(ValueError, match="timeZone=UTC"):
            embedding_dedup_stream(df, dim=4, ttl_event_seconds=60)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    # The pinned-UTC session builds fine (no stream started here).
    assert spark.conf.get("spark.sql.session.timeZone") == old == "UTC"


# ---------------------------------------------------------------------------
# Streaming ingest into the persisted IVF-PQ index (index_ingest.py).
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_index_append_stream_bit_equal_and_replay_idempotent(spark, tmp_path):
    """The continuously-fresh-index loop: a stream of embedding batches
    appended via foreachBatch must leave the index BIT-EQUAL to one
    batch append of the union (same resident model -> same codes, same
    served results), and replays must never duplicate rows — (a) a
    restarted drain over the same checkpoint is a no-op, (b) a retried
    micro-batch is skipped by its marker, and (c) even with the marker
    gone (the crash window between append and marker) the subtree
    overwrite re-lands the same rows in place."""
    import glob
    import os

    from streampro_assignment_etl_spark.operators import ann_index, similarity
    from streampro_assignment_etl_spark.streaming import index_ingest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.collect_centroids(
        similarity.seed_centroids(emb, "vec_id", "embedding", 16)
    )
    cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, n_codes=16)
    resident = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")

    # Landing dir: 3 parquet files = 3 micro-batches at mfpt=1.
    landing = str(tmp_path / "landing")
    arriving.repartition(3).write.parquet(landing)
    assert len(glob.glob(os.path.join(landing, "*.parquet"))) == 3

    streamed = str(tmp_path / "streamed")
    ann_index.build_ivfpq_index(
        resident, streamed, centroids=cents, codebooks=cbs
    )
    ckpt = str(tmp_path / "ckpt")
    index_ingest.run_index_append_stream_from_dir(
        spark, landing, streamed, ckpt,
        vec_element="float", max_files_per_trigger=1,
    )

    batched = str(tmp_path / "batched")
    ann_index.build_ivfpq_index(
        resident, batched, centroids=cents, codebooks=cbs
    )
    ann_index.append_to_ivfpq_index(arriving, batched)

    def snapshot_rows(path):
        m = ann_index.load_ivfpq_model(spark, path)
        df = spark.read.parquet(f"{path}/{m.encoded_dir}").drop("ingest")
        return sorted(tuple(r) for r in df.collect())

    assert snapshot_rows(streamed) == snapshot_rows(batched)  # bit-equal codes

    q = emb.filter(F.col("vec_id") < 5)
    got = ann_index.ivfpq_topk_over_index(emb, q, streamed, k=5).collect()
    want = ann_index.ivfpq_topk_over_index(emb, q, batched, k=5).collect()
    assert got == want and len(got) == 25

    n_before = len(snapshot_rows(streamed))

    # (a) Restarted drain, same checkpoint, no new files: no-op.
    index_ingest.run_index_append_stream_from_dir(
        spark, landing, streamed, ckpt,
        vec_element="float", max_files_per_trigger=1,
    )
    assert len(snapshot_rows(streamed)) == n_before

    # (b) A retried micro-batch (same batch_id, data already applied)
    # is skipped by its marker — no re-encode, no new rows.
    writer = index_ingest.make_index_append_writer(streamed)
    replay = spark.read.parquet(landing).limit(40)
    writer(replay, 0)
    assert len(snapshot_rows(streamed)) == n_before

    # (c) Marker lost in the crash window: the replayed batch must
    # OVERWRITE its own ingest subtree, not append to it. Replay batch
    # 1 with the exact rows it originally carried.
    fs, base = ann_index._fs_base(streamed)
    marker = index_ingest._marker_path(base, "ingest", 1)
    os.remove(marker)
    m = ann_index.load_ivfpq_model(spark, streamed)
    sub = f"{streamed}/{m.encoded_dir}/ingest=ingest-b{1:012d}"
    original = (
        spark.read.parquet(sub).select("neighbor_id").withColumnRenamed(
            "neighbor_id", "vec_id"
        )
    )
    batch1 = arriving.join(original, "vec_id")
    writer(batch1, 1)
    assert len(snapshot_rows(streamed)) == n_before
    assert index_ingest._marker_exists(streamed, "ingest", 1)  # re-marked
    assert (
        ann_index.ivfpq_topk_over_index(emb, q, streamed, k=5).collect() == want
    )

    # Compaction folds the stream's subtrees; markers survive it, so a
    # late replay of an already-folded batch stays a no-op.
    compacted = ann_index.compact_ivfpq_index(spark, streamed)
    writer(batch1, 1)
    assert len(snapshot_rows(streamed)) == n_before
    assert (
        spark.read.parquet(f"{streamed}/{compacted.encoded_dir}").count()
        == n_before
    )


@pytest.mark.slow
def test_sharded_event_ttl_matches_fine_grained_and_replays(spark, tmp_path):
    """dedup_stream_sharded_event_ttl (the firehose layout with the
    replay-safe horizon — round-10 watch item): same emitted sequence
    as the fine-grained event-TTL operator on the same files
    (duplicate inside the horizon suppressed, re-admitted once the
    watermark passes its horizon, min-doc_id-per-batch), and the LIVE
    member view (fp, last) within the final watermark's horizon is
    identical whether the backfill replays as one micro-batch or many.
    Physical state may differ (a dead member inside a still-live shard
    lingers until the shard's next visit — invisible to scoring, same
    contract as the cohort operators), which is why the pin is on the
    live view."""
    import os as _os

    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        run_dedup_stream,
    )

    landing = tmp_path / "sev_landing"
    landing.mkdir()

    batches = [
        [
            {"doc_id": 1, "text": "alpha beta gamma", "ts": "2026-01-01T00:00:00"},
            {"doc_id": 7, "text": "omega psi", "ts": "2026-01-01T00:00:00"},
        ],
        [
            {"doc_id": 2, "text": "ALPHA  beta gamma", "ts": "2026-01-01T00:10:00"},
            {"doc_id": 3, "text": "delta epsilon", "ts": "2026-01-01T02:00:00"},
        ],
        [{"doc_id": 9, "text": "alpha beta  GAMMA", "ts": "2026-01-01T02:05:00"}],
    ]
    for i, rows in enumerate(batches):
        f = landing / f"b{i}.jsonl"
        f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    def emitted(o):
        return sorted(r["doc_id"] for r in spark.read.parquet(o).collect())

    TTL_MS = 3600 * 1000
    # Final watermark = the max event time across the files.
    WM_FINAL = int(
        __import__("pandas").Timestamp("2026-01-01T02:05:00").value // 1_000_000
    )

    def live_members(ckpt):
        st = spark.read.format("statestore").load(ckpt)
        out = set()
        for r in st.collect():
            gs = r["value"]["groupState"]
            for fp, last in zip(gs["fps"], gs["lasts"]):
                if last + TTL_MS > WM_FINAL:
                    out.add((fp, int(last)))
        return out

    # Many-batch replay (one file per micro-batch).
    out_m, ckpt_m = str(tmp_path / "sev_out_m"), str(tmp_path / "sev_ckpt_m")
    run_dedup_stream(
        spark, str(landing), out_m, ckpt_m,
        max_files_per_trigger=1, n_shards=4, ttl_event_seconds=3600,
    )
    # Same admit/suppress sequence as dedup_stream_event_ttl's pin: 2
    # suppressed inside the horizon, 9 re-admitted past it.
    assert emitted(out_m) == [1, 3, 7, 9]

    # One-batch replay on a fresh checkpoint: identical live view.
    out_o, ckpt_o = str(tmp_path / "sev_out_o"), str(tmp_path / "sev_ckpt_o")
    run_dedup_stream(
        spark, str(landing), out_o, ckpt_o, n_shards=4, ttl_event_seconds=3600,
    )
    live_m, live_o = live_members(ckpt_m), live_members(ckpt_o)
    assert live_m == live_o
    # alpha (refreshed to its max event time 02:05) and delta (02:00)
    # are live at the final watermark; omega (00:00) is not.
    assert {last for _, last in live_m} == {
        WM_FINAL,
        int(__import__("pandas").Timestamp("2026-01-01T02:00:00").value // 1_000_000),
    }


@pytest.mark.slow
def test_bloom_event_ttl_generational_rotation(spark, tmp_path):
    """dedup_stream_bloom_event_ttl: O(1)-state horizon via rotating
    generations — a duplicate within the ttl of stream time is
    suppressed, the same content is re-admitted once the watermark has
    advanced 2·ttl past it (both filters rotated away), and every
    surviving shard's state is re-anchored at the current band (stale
    shards drop via the end-of-second-band timeout). Event-driven: no
    sleeps."""
    import os as _os

    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        run_dedup_stream,
    )

    landing = tmp_path / "bev_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "bev_out"), str(tmp_path / "bev_ckpt")

    def write(i, rows):
        f = landing / f"b{i}.jsonl"
        f.write_text("\n".join(json.dumps(d) for d in rows) + "\n")
        _os.utime(f, (1_000_000_000 + i * 100,) * 2)

    def emitted(o):
        return sorted(r["doc_id"] for r in spark.read.parquet(o).collect())

    write(0, [{"doc_id": 1, "text": "alpha beta gamma", "ts": "2026-01-01T00:00:00"}])
    run_dedup_stream(
        spark, str(landing), out, ckpt, n_shards=64, bloom=True, ttl_event_seconds=3600
    )
    assert emitted(out) == [1]

    # Duplicate inside the horizon + a watermark-advancer 2.5 h out.
    write(1, [
        {"doc_id": 2, "text": "ALPHA  beta gamma", "ts": "2026-01-01T00:10:00"},
        {"doc_id": 3, "text": "delta epsilon", "ts": "2026-01-01T02:30:00"},
    ])
    run_dedup_stream(
        spark, str(landing), out, ckpt, n_shards=64, bloom=True, ttl_event_seconds=3600
    )
    assert emitted(out) == [1, 3]  # 2 suppressed by the current filter

    # Same content again, with the watermark now ≥ 2·ttl past its
    # insertion band: both generations rotated away → re-admitted.
    write(2, [{"doc_id": 9, "text": "alpha beta  GAMMA", "ts": "2026-01-01T02:35:00"}])
    run_dedup_stream(
        spark, str(landing), out, ckpt, n_shards=64, bloom=True, ttl_event_seconds=3600
    )
    assert emitted(out) == [1, 3, 9]

    # Surviving shard state is anchored at the current band: visited
    # shards were hard-reset to the watermark's band; unvisited shards'
    # end-of-second-band timeouts fired during the drains.
    st = spark.read.format("statestore").load(ckpt)
    band = int(
        __import__("pandas").Timestamp("2026-01-01T02:00:00").value // 1_000_000
    )
    gens = [int(r["value"]["groupState"]["gen_start_ms"]) for r in st.collect()]
    assert gens and all(g == band for g in gens), gens


def test_index_append_marker_pruning(spark, tmp_path):
    """prune_applied_markers keeps the newest keep_last markers (the
    only ones a checkpoint replay could ever consult) and deletes the
    rest; an unknown stream name is a no-op."""
    from streampro_assignment_etl_spark.streaming import index_ingest

    path = str(tmp_path / "idx")
    for b in range(7):
        index_ingest._write_marker(path, "ingest", b)
    gone = index_ingest.prune_applied_markers(path, keep_last=3)
    assert gone == [f"b{b:012d}" for b in range(4)]
    assert not index_ingest._marker_exists(path, "ingest", 0)
    for b in (4, 5, 6):
        assert index_ingest._marker_exists(path, "ingest", b)
    assert index_ingest.prune_applied_markers(path, stream_name="nope") == []


def test_index_ops_runbook_end_to_end(spark, tmp_path, capsys):
    """Round-11 VERDICT #7 — the operations runbook as a test: a live
    availableNow ingest loop interleaved with the CLI cron surface —
    ingest three micro-batches, then in a maintenance window compact,
    expire under min_age, and prune markers (all through `index`
    CLI actions), then drop more data and RESTART the stream from its
    checkpoint — zero duplicate rows, zero lost rows, serving intact
    at every step, and a final idle restart is a no-op."""
    import glob
    import json as _json
    import os

    from streampro_assignment_etl_spark.operators import ann_index
    from streampro_assignment_etl_spark.pipeline.cli import main
    from streampro_assignment_etl_spark.streaming import index_ingest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    resident = emb.filter(F.col("vec_id") % 2 == 0)
    wave1 = emb.filter(F.col("vec_id") % 4 == 1).select("vec_id", "embedding")
    wave2 = emb.filter(F.col("vec_id") % 4 == 3).select("vec_id", "embedding")
    all_ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(resident, path)

    landing = str(tmp_path / "landing")
    wave1.repartition(3).write.parquet(landing)
    assert len(glob.glob(os.path.join(landing, "*.parquet"))) == 3
    ckpt = str(tmp_path / "ckpt")
    index_ingest.run_index_append_stream_from_dir(
        spark, landing, path, ckpt, vec_element="float", max_files_per_trigger=1
    )

    def cli(args):
        assert main(args) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def snapshot(p):
        m = ann_index.load_ivfpq_model(spark, p)
        return spark.read.parquet(f"{p}/{m.encoded_dir}")

    # ingest left one subtree per batch; epoch = build + 3 appends
    assert ann_index.load_ivfpq_model(spark, path).epoch == 4

    # ---- maintenance window (the stream is between availableNow
    # drains — exactly when the runbook schedules these) ----
    compacted = cli(["index", "compact", "--path", path])
    assert compacted["epoch"] == 5
    expired = cli(["index", "expire", "--path", path, "--min-age-seconds", "0"])
    assert expired["expired"]  # superseded snapshot + manifests reaped
    pruned = cli(
        ["index", "prune-markers", "--path", path, "--keep-last", "2"]
    )
    assert pruned["pruned"] == ["b000000000000"]  # newest 2 kept
    assert not index_ingest._marker_exists(path, "ingest", 0)
    assert index_ingest._marker_exists(path, "ingest", 2)

    mid_ids = sorted(r["neighbor_id"] for r in snapshot(path).collect())
    assert mid_ids == sorted(
        r["vec_id"]
        for r in resident.select("vec_id").union(wave1.select("vec_id")).collect()
    )

    # ---- more data arrives; the stream restarts from its checkpoint ----
    wave2.coalesce(1).write.mode("append").parquet(landing)
    index_ingest.run_index_append_stream_from_dir(
        spark, landing, path, ckpt, vec_element="float", max_files_per_trigger=1
    )
    got = [r["neighbor_id"] for r in snapshot(path).collect()]
    assert sorted(got) == all_ids  # zero lost
    assert len(got) == len(set(got))  # zero duplicated
    assert ann_index.load_ivfpq_model(spark, path).epoch == 6

    # serving works over the mixed base/compacted/appended snapshot
    q = emb.filter(F.col("vec_id") < 3)
    assert ann_index.ivfpq_topk_over_index(emb, q, path, k=5).count() == 15

    # idle restart: committed batches are checkpoint-skipped; the empty
    # drain marks without touching the index
    index_ingest.run_index_append_stream_from_dir(
        spark, landing, path, ckpt, vec_element="float", max_files_per_trigger=1
    )
    assert sorted(r["neighbor_id"] for r in snapshot(path).collect()) == all_ids
    assert ann_index.load_ivfpq_model(spark, path).epoch == 6


# ---------------------------------------------------------------------------
# Streaming doc ingest through the persisted LSH signature store
# (streaming/fuzzy_store_ingest.py).
# ---------------------------------------------------------------------------
def _w(prefix, n=20):
    return " ".join(f"{prefix}{i}" for i in range(n))


@pytest.mark.slow
def test_fuzzy_store_ingest_stream_dedupes_and_replays_idempotent(spark, tmp_path):
    """The streaming fuzzy-dedup ingest loop: micro-batches probed
    against the growing signature store — a near-dup of a doc accepted
    in an EARLIER stream batch is dropped with the right dup_of (store
    growth works), exact mirrors score 1.0, within-batch exact copies
    collapse to the lowest id, novel docs land. Replays never corrupt:
    a restarted drain is a no-op, a marker-skipped batch does nothing,
    and with the marker LOST the replayed batch re-probes with its own
    subtree excluded — so it cannot match itself and drop its own docs
    — converging to the identical store."""
    import os

    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi
    from streampro_assignment_etl_spark.streaming.index_ingest import (
        _marker_exists,
        _marker_path,
    )
    from streampro_assignment_etl_spark.operators.ann_index import _fs_base

    t1, t2, t3, t13, t22 = _w("a"), _w("b"), _w("c"), _w("d"), _w("e")
    near = lambda t: t.rsplit(" ", 1)[0] + " zz"  # noqa: E731  last word swap, J≈0.71
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "fstore")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def drain(rows, fname):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{landing}/{fname}")
        fsi.run_fuzzy_store_ingest_from_dir(
            spark, f"{landing}/*", store, ckpt, threshold=0.7
        )

    drain([(1, t1), (2, t2), (3, t3), (4, _w("x"))], "f1")
    drain([(11, near(t2)), (12, t1), (13, t13)], "f2")
    drain([(21, near(t13)), (22, t22), (23, t22)], "f3")

    docs = fsi.read_store_docs(spark, store)
    assert {r["doc_id"] for r in docs.collect()} == {1, 2, 3, 4, 13, 22}
    dec_rows = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in fsi.read_decisions(spark, store).collect()
    }
    assert dec_rows[12] == (1, 1.0)  # exact mirror of an earlier batch's doc
    assert dec_rows[11][0] == 2 and 0.7 <= dec_rows[11][1] < 1.0
    assert dec_rows[21][0] == 13 and 0.7 <= dec_rows[21][1] < 1.0  # vs batch-2 doc
    assert set(dec_rows) == {11, 12, 21}  # 23 collapsed silently, never logged
    bands = fsi.read_store_bands(spark, store)
    assert bands.count() == 6 * 8  # 8 band rows per accepted doc

    state = sorted(tuple(r) for r in docs.collect())

    # restarted drain over the same checkpoint: no-op
    fsi.run_fuzzy_store_ingest_from_dir(spark, f"{landing}/*", store, ckpt, threshold=0.7)
    assert sorted(tuple(r) for r in fsi.read_store_docs(spark, store).collect()) == state

    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.7)
    f3 = spark.createDataFrame(
        [(21, near(t13)), (22, t22), (23, t22)], "doc_id long, text string"
    )
    # marker present: skipped
    writer(f3, 2)
    assert sorted(tuple(r) for r in fsi.read_store_docs(spark, store).collect()) == state

    # marker LOST (crash window): replay must converge bit-equal —
    # self-exclusion keeps doc 22 from matching its own store rows
    fs, base = _fs_base(store)
    os.remove(_marker_path(base, "ingest", 2))
    writer(f3, 2)
    assert sorted(tuple(r) for r in fsi.read_store_docs(spark, store).collect()) == state
    assert _marker_exists(store, "ingest", 2)
    redec = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in fsi.read_decisions(spark, store).collect()
    }
    assert redec == dec_rows


@pytest.mark.slow
def test_fuzzy_store_remove_docs_takedown(spark, tmp_path):
    """VERDICT r13 #1 (store half): remove_docs physically drops the
    ids' doc + band rows (surgical — only subtrees containing them are
    rewritten; an untouched subtree's files stay byte-identical),
    tombstones the ids, and audits the removal in decisions. A
    REPLAYED ingest of a removed doc (marker lost) is re-adjudicated:
    the doc stays out while its batch-mates re-land; a NEW near-dup of
    a removed doc is ADMITTED (nothing left to match). Compaction
    carries the state; the epoch fence bumps per removal."""
    import glob
    import hashlib
    import os

    from streampro_assignment_etl_spark.operators.ann_index import _fs_base
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi
    from streampro_assignment_etl_spark.streaming.index_ingest import (
        _marker_path,
    )

    t1, t2, t3, t4 = _w("a"), _w("b"), _w("c"), _w("d")
    near = lambda t: t.rsplit(" ", 1)[0] + " zz"  # noqa: E731
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "fstore")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def drain(rows, fname):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{landing}/{fname}")
        fsi.run_fuzzy_store_ingest_from_dir(
            spark, f"{landing}/*", store, ckpt, threshold=0.7
        )

    drain([(1, t1), (2, t2)], "f1")
    drain([(11, t3), (12, t4)], "f2")
    docs_dir = f"{store}/{fsi._store_dirs(fsi.load_store_manifest(store))['docs']}"
    md5s = lambda d: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }
    batch1_docs = md5s(f"{docs_dir}/ingest=ingest-b000000000000")

    # remove doc 11 (landed in batch 2) — batch 1's subtrees untouched
    out = fsi.remove_docs(spark, store, [11])
    assert out["removed_docs"] == 1 and out["removed_band_rows"] == 8
    assert out["subtrees_rewritten"] == 2  # store + docs subtree of batch 2
    assert md5s(f"{docs_dir}/ingest=ingest-b000000000000") == batch1_docs
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {1, 2, 12}
    assert fsi.read_store_bands(spark, store).filter("doc_id = 11").count() == 0
    # audit row: NULL dup_of/jaccard is the "removed" encoding
    tomb_rows = fsi.read_decisions(spark, store).filter("dup_of IS NULL").collect()
    assert [(r["doc_id"], r["dup_of"], r["jaccard"]) for r in tomb_rows] == [
        (11, None, None)
    ]

    # replay of batch 2 with its marker LOST: doc 11 re-adjudicated
    # (stays out), doc 12 re-lands — state converges to post-removal
    state = sorted(
        tuple(r) for r in fsi.read_store_docs(spark, store).collect()
    )
    fs, base = _fs_base(store)
    os.remove(_marker_path(base, "ingest", 1))
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.7)
    writer(
        spark.createDataFrame([(11, t3), (12, t4)], "doc_id long, text string"),
        1,
    )
    assert (
        sorted(tuple(r) for r in fsi.read_store_docs(spark, store).collect())
        == state
    )

    # a NEW near-dup of the removed doc is admitted (nothing to match)
    drain([(21, near(t3))], "f3")
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {
        1, 2, 12, 21,
    }

    # compaction folds without resurrecting; tombstone file survives
    fsi.compact_fuzzy_store(spark, store)
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {
        1, 2, 12, 21,
    }
    assert fsi.tombstoned_ids(store) == [11]
    # removing an id that only exists as text elsewhere: no-op rewrite,
    # tombstone + audit still land, epoch still fences forward
    e0 = fsi._store_epoch(fsi.load_store_manifest(store))
    out2 = fsi.remove_docs(spark, store, [999])
    assert out2["removed_docs"] == 0 and out2["subtrees_rewritten"] == 0
    assert out2["epoch"] == e0 + 1


@pytest.mark.slow
def test_fuzzy_store_remove_docs_crash_recovery(spark, tmp_path):
    """ADVICE r14 #2: remove_docs' subtree swap has the same unprotected
    window as the index delete — a crash after the live subtree moved to
    ``.rm-old-*`` trash but before the staged rewrite landed strands the
    subtree's SURVIVING docs/band rows, and a retry finds no hits so it
    never restores them. Pins: recover_store_removal restores a trash
    dir whose live subtree is missing (and sweeps the orphan staging
    dir), drops one whose swap completed, and remove_docs runs the
    recovery at entry so the retried removal converges — batch-mates
    back, doomed id gone, reads clean."""
    import os
    import shutil

    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    landing = str(tmp_path / "landing")
    store = str(tmp_path / "fstore")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def drain(rows, fname):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{landing}/{fname}")
        fsi.run_fuzzy_store_ingest_from_dir(
            spark, f"{landing}/*", store, ckpt, threshold=0.7
        )

    drain([(1, _w("a")), (2, _w("b"))], "f1")
    drain([(11, _w("c")), (12, _w("d"))], "f2")
    dirs = fsi._store_dirs(fsi.load_store_manifest(store))
    docs_dir = f"{store}/{dirs['docs']}"
    sub = "ingest-b000000000001"  # batch 2's subtree: docs 11 and 12

    # fabricate the crash window: live subtree in trash, staged rewrite
    # present but never swapped in — doc 12 (the survivor) is stranded
    os.rename(f"{docs_dir}/ingest={sub}", f"{docs_dir}/.rm-old-deadbeefdead-{sub}")
    os.makedirs(f"{docs_dir}/.rm-deadbeefdead-{sub}")
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {1, 2}

    out = fsi.recover_store_removal(store)
    assert out["restored"] == [f"{dirs['docs']}/ingest={sub}"]
    assert out["staging_swept"] == [f"{dirs['docs']}/.rm-deadbeefdead-{sub}"]
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {
        1, 2, 11, 12,
    }

    # same window, healed by remove_docs' own entry: the retried removal
    # of 11 converges — 12 restored and kept, 11 physically gone
    os.rename(f"{docs_dir}/ingest={sub}", f"{docs_dir}/.rm-old-feedfacefeed-{sub}")
    out2 = fsi.remove_docs(spark, store, [11])
    assert out2["removed_docs"] == 1
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {
        1, 2, 12,
    }
    assert fsi.read_store_bands(spark, store).filter("doc_id = 11").count() == 0
    assert not os.path.exists(f"{docs_dir}/.rm-old-feedfacefeed-{sub}")

    # crashed AFTER the swap (live subtree present): trash dropped, live
    # bytes untouched
    shutil.copytree(
        f"{docs_dir}/ingest={sub}", f"{docs_dir}/.rm-old-0123456789ab-{sub}"
    )
    state = sorted(tuple(r) for r in fsi.read_store_docs(spark, store).collect())
    out3 = fsi.recover_store_removal(store)
    assert out3["dropped"] == [f"{dirs['docs']}/ingest={sub}"]
    assert not os.path.exists(f"{docs_dir}/.rm-old-0123456789ab-{sub}")
    assert (
        sorted(tuple(r) for r in fsi.read_store_docs(spark, store).collect())
        == state
    )

    # foreign dot-dirs sharing the prefix (ADVICE r15 #4): no 12-hex
    # token — recovery skips them instead of crashing on the parse or
    # silently destroying another tool's artifact
    foreign = [f"{docs_dir}/.rm-old-x", f"{docs_dir}/.rm-junk"]
    for d in foreign:
        os.makedirs(d)
    out4 = fsi.recover_store_removal(store)
    assert out4 == {"restored": [], "dropped": [], "staging_swept": []}
    for d in foreign:
        assert os.path.isdir(d)
        shutil.rmtree(d)


@pytest.mark.slow
def test_fuzzy_store_remove_docs_fence_race(spark, tmp_path, monkeypatch):
    """remove_docs racing a concurrent ingest batch: the removal loaded
    the manifest at epoch e, the batch commits e+1 first, so the
    removal's own commit must ABORT at the fence — with the tombstone
    already in place, so reads exclude the doc while the caller
    retries (the same two-layer guarantee as the index delete race)."""
    import pytest

    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    landing = str(tmp_path / "landing")
    store = str(tmp_path / "fstore")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(landing)
    spark.createDataFrame(
        [(1, _w("a")), (2, _w("b"))], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{landing}/f1")
    fsi.run_fuzzy_store_ingest_from_dir(
        spark, f"{landing}/*", store, ckpt, threshold=0.7
    )

    stale_manifest = fsi.load_store_manifest(store)
    # a second batch commits while the removal holds the stale manifest
    spark.createDataFrame(
        [(3, _w("c"))], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{landing}/f2")
    fsi.run_fuzzy_store_ingest_from_dir(
        spark, f"{landing}/*", store, ckpt, threshold=0.7
    )
    # stale view for remove_docs' OWN manifest load only — the fence
    # inside _commit_store_manifest re-reads the real manifest
    real_load = fsi.load_store_manifest
    calls = {"n": 0}

    def first_call_stale(p):
        calls["n"] += 1
        return stale_manifest if calls["n"] == 1 else real_load(p)

    monkeypatch.setattr(fsi, "load_store_manifest", first_call_stale)
    with pytest.raises(RuntimeError, match="moved from epoch"):
        fsi.remove_docs(spark, store, [1])
    monkeypatch.undo()
    # tombstone survives the abort: reads already exclude doc 1
    assert fsi.tombstoned_ids(store) == [1]
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {2, 3}
    # the retry (fresh manifest) completes and bumps the epoch
    out = fsi.remove_docs(spark, store, [1])
    assert out["epoch"] == fsi._store_epoch(fsi.load_store_manifest(store))


def test_fuzzy_store_base_namespace_guard(tmp_path):
    """ADVICE r13: ``_subtree_committed`` matched any id starting with
    'base', so a stream named 'baseline' had its UNCOMMITTED batches
    folded as if committed. Pin the exact-match rule ('base' or
    'base-<token>' only; 'baseline-b…' goes through the marker check)
    and the writer-construction rejection of colliding stream names."""
    import pytest

    from streampro_assignment_etl_spark.streaming import (
        fuzzy_store_ingest as fsi,
    )
    from streampro_assignment_etl_spark.streaming.index_ingest import (
        _write_marker,
    )

    store = str(tmp_path / "fstore")
    # snapshot namespaces are always committed
    assert fsi._subtree_committed(store, "ingest=base")
    assert fsi._subtree_committed(store, "ingest=base-deadbeef")
    # a 'baseline' STREAM batch is committed iff its marker exists
    assert not fsi._subtree_committed(store, "ingest=baseline-b000000000007")
    _write_marker(store, "baseline", 7)
    assert fsi._subtree_committed(store, "ingest=baseline-b000000000007")
    # colliding stream names are rejected at writer construction
    for bad in ("base", "base-x"):
        with pytest.raises(ValueError, match="reserved"):
            fsi.make_fuzzy_ingest_writer(store, stream_name=bad)
    fsi.make_fuzzy_ingest_writer(store, stream_name="baseline")  # fine


def _fuzzy_state(spark, fsi, store):
    """Order-insensitive (docs, bands, decisions) snapshot, ingest col
    dropped (the fold renames subtrees by design)."""
    k = lambda df, cols: sorted(tuple(r) for r in df.select(*cols).collect())  # noqa: E731
    return (
        k(fsi.read_store_docs(spark, store), ["doc_id", "text"]),
        k(fsi.read_store_bands(spark, store), ["doc_id", "band_id", "band_hash"]),
        k(fsi.read_decisions(spark, store), ["doc_id", "dup_of", "jaccard"]),
    )


@pytest.mark.slow
def test_fuzzy_store_compaction_and_replay_safety(spark, tmp_path):
    """Round-11 VERDICT #3: the store's ``ingest=`` subtrees fold into
    single-subtree snapshots behind a rename-committed manifest —
    bit-equal state, one subtree per kind — and replay stays safe
    ACROSS the fold in both windows: (a) a stale-checkpoint re-run of
    committed batches is marker-short-circuited; (b) a batch whose
    marker was LOST (crashed pre-commit) is NOT folded — its orphan
    subtrees stay out of the new snapshot, so its replay re-probes
    with self-exclusion intact and re-lands fresh, converging to the
    identical store with no self-match and no row loss."""
    import os
    import shutil

    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi
    from streampro_assignment_etl_spark.streaming.index_ingest import (
        _marker_exists,
        _marker_path,
    )
    from streampro_assignment_etl_spark.operators.ann_index import _fs_base

    t1, t2, t3, t13, t22 = _w("a"), _w("b"), _w("c"), _w("d"), _w("e")
    near = lambda t: t.rsplit(" ", 1)[0] + " zz"  # noqa: E731
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "fstore")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def drain(rows, fname):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{landing}/{fname}")
        fsi.run_fuzzy_store_ingest_from_dir(
            spark, f"{landing}/*", store, ckpt, threshold=0.7
        )

    drain([(1, t1), (2, t2), (3, t3), (4, _w("x"))], "f1")
    stale_ckpt = str(tmp_path / "ckpt_stale")
    shutil.copytree(ckpt, stale_ckpt)  # checkpoint BEFORE batch 1
    drain([(11, near(t2)), (12, t1), (13, t13)], "f2")

    mid = _fuzzy_state(spark, fsi, store)
    man = fsi.load_store_manifest(store)
    assert man is not None and man["epoch"] == 2  # one bump per batch
    assert man["geometry"] == {"num_hashes": 32, "bands": 8, "shingle_n": 3}

    out = fsi.compact_fuzzy_store(spark, store)
    assert out["epoch"] == 3
    assert _fuzzy_state(spark, fsi, store) == mid  # bit-equal fold
    # one folded subtree per kind in the new snapshot dirs
    for kind, d in out["dirs"].items():
        subs = [
            s for s in os.listdir(f"{store}/{d}") if s.startswith("ingest=")
        ]
        assert len(subs) == 1 and subs[0].startswith("ingest=base-"), (kind, subs)

    # (a) stale-checkpoint replay of a COMMITTED batch across the fold:
    # the marker short-circuits batch 1 — store unchanged, epoch
    # unchanged (skipped batches don't commit manifests), and crucially
    # the replayed batch never probes the folded copy of its own rows.
    fsi.run_fuzzy_store_ingest_from_dir(
        spark, f"{landing}/*", store, stale_ckpt, threshold=0.7
    )
    assert _fuzzy_state(spark, fsi, store) == mid
    assert fsi.load_store_manifest(store)["epoch"] == 3

    # (b) marker LOST (crash between subtree writes and marker): the
    # orphan batch must NOT fold — its replay re-probes with
    # self-exclusion intact and converges bit-equal.
    drain([(21, near(t13)), (22, t22), (23, t22)], "f3")
    before = _fuzzy_state(spark, fsi, store)
    fs, base = _fs_base(store)
    os.remove(_marker_path(base, "ingest", 2))
    out2 = fsi.compact_fuzzy_store(spark, store)
    docs_after = {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()}
    assert docs_after == {1, 2, 3, 4, 13}  # f3's rows await their replay
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.7)
    f3 = spark.createDataFrame(
        [(21, near(t13)), (22, t22), (23, t22)], "doc_id long, text string"
    )
    writer(f3, 2)
    assert _marker_exists(store, "ingest", 2)
    assert _fuzzy_state(spark, fsi, store) == before  # no self-match, no loss
    assert fsi.load_store_manifest(store)["epoch"] == out2["epoch"] + 1


def test_fuzzy_store_epoch_fence_detects_ingest_compact_interleave(
    spark, tmp_path, monkeypatch
):
    """Round-11 VERDICT #4 — the index's lost-write race, pre-empted:
    a compaction that loaded the manifest, then lost the race to an
    ingest batch, must ABORT at its commit instead of publishing a
    snapshot missing the batch's rows. Forced deterministically: the
    ingest runs inside the compaction's manifest load."""
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    store = str(tmp_path / "fstore")
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.7)
    writer(
        spark.createDataFrame([(1, _w("a")), (2, _w("b"))], "doc_id long, text string"),
        0,
    )

    real_load = fsi.load_store_manifest
    raced = [False]

    def load_then_ingest(path):
        manifest = real_load(path)
        if not raced[0]:
            raced[0] = True  # the nested writer loads too
            writer(
                spark.createDataFrame([(3, _w("c"))], "doc_id long, text string"), 1
            )
        return manifest

    monkeypatch.setattr(fsi, "load_store_manifest", load_then_ingest)
    with pytest.raises(RuntimeError, match="moved from epoch"):
        fsi.compact_fuzzy_store(spark, store)
    monkeypatch.undo()

    # Nothing lost: both batches' docs are live; a clean retry folds them.
    assert {
        r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()
    } == {1, 2, 3}
    fsi.compact_fuzzy_store(spark, store)
    assert {
        r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()
    } == {1, 2, 3}


def test_fuzzy_store_retention_and_geometry_fence(spark, tmp_path):
    """Round-11 VERDICT #8 + the geometry promise: (1) compaction with
    ``decisions_keep_seconds`` ages the audit log out without touching
    docs/bands; (2) ``expire_fuzzy_store`` sweeps superseded snapshot
    dirs and manifests under a min-age grace, and reads survive; (3) a
    writer constructed under a mismatched LSH geometry fails loudly
    instead of silently matching nothing."""
    import os

    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    store = str(tmp_path / "fstore")
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.7)
    t = _w("a")
    writer(spark.createDataFrame([(1, t)], "doc_id long, text string"), 0)
    writer(spark.createDataFrame([(2, t)], "doc_id long, text string"), 1)  # dup
    assert fsi.read_decisions(spark, store).count() == 1

    # grace horizon respected: nothing is old enough to sweep or age out
    out = fsi.compact_fuzzy_store(spark, store, decisions_keep_seconds=1e6)
    assert fsi.read_decisions(spark, store).count() == 1
    assert fsi.expire_fuzzy_store(spark, store, min_age_seconds=1e6) == []

    # age-out + sweep at horizon 0: decisions drop, docs/bands survive,
    # superseded dirs and manifests are gone, reads still work
    out2 = fsi.compact_fuzzy_store(spark, store, decisions_keep_seconds=0.0)
    assert fsi.read_decisions(spark, store).count() == 0
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {1}
    gone = fsi.expire_fuzzy_store(spark, store, min_age_seconds=0.0)
    assert set(out["dirs"].values()) <= set(gone)  # first compaction's dirs
    assert {"store", "docs", "decisions"} <= set(gone)  # legacy fixed dirs
    assert any(n.startswith(fsi.MANIFEST_PREFIX) for n in gone)
    live = set(os.listdir(store))
    # current snapshot kept (decisions dir legitimately absent: the
    # aged-out fold wrote nothing to carry)
    assert {out2["dirs"]["store"], out2["dirs"]["docs"]} <= live
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {1}
    assert fsi.read_store_bands(spark, store).count() == 8

    # geometry fence: band hashes are seed-dependent — refuse to mix
    bad = fsi.make_fuzzy_ingest_writer(store, threshold=0.7, bands=16, num_hashes=32)
    with pytest.raises(ValueError, match="geometry"):
        bad(spark.createDataFrame([(9, _w("z"))], "doc_id long, text string"), 7)


def test_ingest_writer_overcap_logging_and_cap_passthrough(
    spark, tmp_path, capsys
):
    """ADVICE r12 #3: the production ingest path exposes the hot-bucket
    cap and can audit it — ``log_overcap=True`` emits one
    overcap_band_stats JSON line per applied batch over the STORE's
    band rows. Accept-all signing (threshold 1.5) of the same text in
    three separate batches builds three identical band-row sets, so
    every one of the 8 buckets holds 3 docs and a cap of 2 reads 8
    over-cap buckets with 8 dropped slots."""
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    store = str(tmp_path / "fstore")
    writer = fsi.make_fuzzy_ingest_writer(
        store, threshold=1.5, max_bucket_size=2, log_overcap=True
    )
    for b in range(3):
        writer(
            spark.createDataFrame([(b, _w("same"))], "doc_id long, text string"), b
        )
    capsys.readouterr()
    writer(
        spark.createDataFrame([(99, _w("other"))], "doc_id long, text string"), 3
    )
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    audit = [l for l in lines if l.get("event") == "overcap_band_stats"]
    assert len(audit) == 1
    a = audit[0]
    assert a["batch_id"] == 3 and a["max_bucket_size"] == 2
    assert a["n_buckets"] == 8  # 3 identical docs share all 8 buckets
    assert a["n_overcap_buckets"] == 8 and a["max_bucket_docs"] == 3
    assert a["dropped_id_slots"] == 8  # one excess doc per bucket
    # all four docs landed (accept-all mode) — the cap shapes the
    # probe join, never the store contents
    assert fsi.read_store_docs(spark, store).count() == 4


@pytest.mark.slow
def test_resign_store_geometry_migration(spark, tmp_path, monkeypatch):
    """Round-12 VERDICT Next #7 — geometry migration: ``resign_store``
    re-signs accepted docs under a new LSH geometry into a fresh
    epoch-fenced snapshot. Pins: (1) the resigned store's band rows and
    probe results are bit-equal to a FRESH store built over the same
    accepted docs under the new geometry; (2) docs/decisions carry
    over unchanged; (3) the manifest now carries the new geometry, so
    an old-geometry writer fails at the fence while a new-geometry
    writer proceeds; (4) a resign racing an ingest batch aborts at the
    manifest commit, leaving the old-geometry store intact."""
    from streampro_assignment_etl_spark.operators import minhash
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    store = str(tmp_path / "fstore")
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.7)
    writer(
        spark.createDataFrame(
            [(1, _w("a")), (2, _w("b"))], "doc_id long, text string"
        ),
        0,
    )
    writer(
        spark.createDataFrame(
            [(3, _w("c")), (4, _w("a"))], "doc_id long, text string"  # 4 dups 1
        ),
        1,
    )
    docs_before = sorted(
        tuple(r)
        for r in fsi.read_store_docs(spark, store).select("doc_id", "text").collect()
    )
    dec_before = sorted(
        tuple(r)
        for r in fsi.read_decisions(spark, store)
        .select("doc_id", "dup_of", "jaccard")
        .collect()
    )
    assert [d[0] for d in docs_before] == [1, 2, 3]

    out = fsi.resign_store(spark, store, num_hashes=64, bands=16, shingle_n=3)
    assert out["epoch"] == 3 and out["docs"] == 3
    assert out["geometry"] == {"num_hashes": 64, "bands": 16, "shingle_n": 3}
    man = fsi.load_store_manifest(store)
    assert man["geometry"] == out["geometry"]

    # docs/decisions invariant; band rows = fresh signing of the same
    # docs under the new geometry, bit-for-bit
    assert (
        sorted(
            tuple(r)
            for r in fsi.read_store_docs(spark, store)
            .select("doc_id", "text")
            .collect()
        )
        == docs_before
    )
    assert (
        sorted(
            tuple(r)
            for r in fsi.read_decisions(spark, store)
            .select("doc_id", "dup_of", "jaccard")
            .collect()
        )
        == dec_before
    )
    accepted = spark.createDataFrame(docs_before, "doc_id long, text string")
    fresh = sorted(
        tuple(r)
        for r in minhash.signature_store(
            accepted, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in fsi.read_store_bands(spark, store)
        .select("doc_id", "band_id", "band_hash")
        .collect()
    )
    assert got == fresh and len(got) == 3 * 16

    # probe equality: an arrival batch probed against the resigned
    # store matches the probe against the fresh-built one
    batch = spark.createDataFrame(
        [(9, _w("c")), (10, _w("zzz"))], "doc_id long, text string"
    )
    def probe(store_bands):
        return sorted(
            (r["doc_id"], r["dup_of"], r["jaccard"])
            for r in minhash.incremental_fuzzy_matches(
                batch, accepted, store_bands, "doc_id", "text",
                threshold=0.7, num_hashes=64, bands=16, shingle_n=3,
            ).collect()
        )
    from streampro_assignment_etl_spark.queries import release_persisted
    got_probe = probe(
        fsi.read_store_bands(spark, store).select("doc_id", "band_id", "band_hash")
    )
    fresh_probe = probe(
        minhash.signature_store(
            accepted, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3
        )
    )
    release_persisted()
    assert got_probe == fresh_probe and got_probe[0][:2] == (9, 3)

    # fence flips: the old-geometry writer is refused, the new one works
    with pytest.raises(ValueError, match="geometry"):
        writer(spark.createDataFrame([(5, _w("e"))], "doc_id long, text string"), 2)
    w2 = fsi.make_fuzzy_ingest_writer(
        store, threshold=0.7, num_hashes=64, bands=16, shingle_n=3
    )
    w2(spark.createDataFrame([(5, _w("e"))], "doc_id long, text string"), 2)
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {1, 2, 3, 5}

    # racing ingest: resign loads the manifest, an ingest batch commits
    # first, the resign MUST abort at the fence with the store intact
    real_load = fsi.load_store_manifest
    raced = [False]

    def load_then_ingest(path):
        manifest = real_load(path)
        if not raced[0]:
            raced[0] = True
            w2(
                spark.createDataFrame([(6, _w("f"))], "doc_id long, text string"), 3
            )
        return manifest

    monkeypatch.setattr(fsi, "load_store_manifest", load_then_ingest)
    with pytest.raises(RuntimeError, match="moved from epoch"):
        fsi.resign_store(spark, store, num_hashes=32, bands=8, shingle_n=3)
    monkeypatch.undo()
    assert fsi.load_store_manifest(store)["geometry"]["bands"] == 16  # unchanged
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {
        1, 2, 3, 5, 6,
    }


@pytest.mark.slow
def test_takedown_runbook_live_stream(spark, tmp_path):
    """Round-14 operational narrative, end to end: a takedown lands in
    the MIDDLE of a live ingest stream and the store stays correct
    through everything that follows — (1) wave 1 ingests; (2) doc 2 is
    taken down; (3) wave 2 on the SAME checkpoint ingests a NEW
    near-dup of the removed doc (admitted — nothing left to match) and
    a fresh doc; (4) wave 1's applied marker is LOST (crash window)
    and the landing re-drained from a FRESH checkpoint — the replay
    recomputes everything as one batch: the removed doc is
    re-adjudicated out, wave-2 docs match their own committed store
    copies and land nothing new, the fresh doc lands; (5) compaction
    folds it all; (6) verify_takedown reads back clean with the
    tombstone standing guard."""
    import os

    from streampro_assignment_etl_spark.operators.takedown import (
        verify_takedown,
    )
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    t1, t2, t3, t4 = _w("a"), _w("b"), _w("c"), _w("d")
    near = lambda t: t.rsplit(" ", 1)[0] + " zz"  # noqa: E731
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "fstore")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def drain(rows, fname, ck=ckpt):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{landing}/{fname}")
        fsi.run_fuzzy_store_ingest_from_dir(
            spark, f"{landing}/*", store, ck, threshold=0.7
        )

    drain([(1, t1), (2, t2)], "w1")
    fsi.remove_docs(spark, store, [2])
    drain([(11, near(t2)), (12, t3)], "w2")  # near-dup of REMOVED doc 2
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {
        1, 11, 12,
    }  # 11 admitted: removal is not a similarity ban

    # wave 1's marker lost (crash window), fresh checkpoint: the
    # re-drain sees every landing file as one batch 0 and replays it
    from streampro_assignment_etl_spark.operators.ann_index import _fs_base
    from streampro_assignment_etl_spark.streaming.index_ingest import (
        _marker_path,
    )

    _, base = _fs_base(store)
    os.remove(_marker_path(base, "ingest", 0))
    drain([(99, t4)], "w3", ck=str(tmp_path / "ckpt2"))
    docs = {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()}
    assert docs == {1, 11, 12, 99}  # doc 2 re-adjudicated OUT on replay

    fsi.compact_fuzzy_store(spark, store)
    ev = verify_takedown(spark, [2], store_path=store)
    assert ev["clean"] is True and ev["store"]["tombstone_guarded"] == [2]
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == docs


@pytest.mark.slow
def test_store_ops_runbook_end_to_end(spark, tmp_path, capsys):
    """The fuzzy store's operations runbook as a test (mirror of the
    index runbook, round-13 surface composed): live checkpointed
    ingest → CLI `dedup maintain` folds in a maintenance window →
    MORE data through the SAME checkpoint against the folded snapshot
    → CLI `dedup resign` migrates the LSH geometry → an old-geometry
    stream restart fails loudly at the fence → a new-geometry ingest
    drains the next landing file from the same checkpoint — zero
    duplicate docs, zero lost docs, decisions intact, probe serving
    under the new geometry at every step."""
    import json as _json
    import pathlib

    from streampro_assignment_etl_spark.pipeline.cli import main
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    store = str(tmp_path / "fstore")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    pathlib.Path(landing).mkdir()

    def land(rows, fname):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{landing}/{fname}")

    def cli(args):
        assert main(args) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def docs():
        return {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()}

    # three micro-batches through one checkpoint (one file per trigger)
    land([(1, _w("a")), (2, _w("b"))], "f1")
    fsi.run_fuzzy_store_ingest_from_dir(
        spark, f"{landing}/*", store, ckpt, threshold=0.7,
        max_files_per_trigger=1,
    )
    land([(3, _w("c")), (4, _w("a"))], "f2")  # 4 dups 1
    land([(5, _w("d"))], "f3")
    fsi.run_fuzzy_store_ingest_from_dir(
        spark, f"{landing}/*", store, ckpt, threshold=0.7,
        max_files_per_trigger=1,
    )
    assert docs() == {1, 2, 3, 5}
    dec0 = sorted(
        tuple(r)
        for r in fsi.read_decisions(spark, store)
        .select("doc_id", "dup_of", "jaccard")
        .collect()
    )
    assert [d[0] for d in dec0] == [4]

    # maintenance window: threshold-gated fold + sweep through the CLI
    mnt = cli(
        [
            "dedup", "maintain", "--path", store,
            "--max-subtrees", "2", "--min-age-seconds", "0",
        ]
    )
    assert mnt["compacted"] is True and max(mnt["subtrees"].values()) >= 3
    assert docs() == {1, 2, 3, 5}

    # more data against the folded snapshot, same checkpoint
    land([(6, _w("e")), (7, _w("c"))], "f4")  # 7 dups 3
    fsi.run_fuzzy_store_ingest_from_dir(
        spark, f"{landing}/*", store, ckpt, threshold=0.7,
        max_files_per_trigger=1,
    )
    assert docs() == {1, 2, 3, 5, 6}

    # geometry migration through the CLI
    rs = cli(
        [
            "dedup", "resign", "--path", store,
            "--num-hashes", "64", "--bands", "16", "--shingle-n", "3",
        ]
    )
    assert rs["geometry"]["bands"] == 16 and rs["docs"] == 5

    # an old-geometry restart is refused at the fence (the ValueError
    # crosses the foreachBatch boundary wrapped in the streaming-query
    # exception — match on the message, not the type)
    land([(8, _w("f"))], "f5")
    with pytest.raises(Exception, match="geometry"):
        fsi.run_fuzzy_store_ingest_from_dir(
            spark, f"{landing}/*", store, ckpt, threshold=0.7,
            max_files_per_trigger=1,
        )
    # ...and the failed drain must not have corrupted anything
    assert docs() == {1, 2, 3, 5, 6}

    # the new-geometry writer drains the pending file from the SAME
    # checkpoint (the aborted attempt left its offsets uncommitted)
    fsi.run_fuzzy_store_ingest_from_dir(
        spark, f"{landing}/*", store, ckpt, threshold=0.7,
        num_hashes=64, bands=16, shingle_n=3,
        max_files_per_trigger=1,
    )
    assert docs() == {1, 2, 3, 5, 6, 8}
    # decisions survived fold + resign; dup audit continuous
    dec = {r["doc_id"]: r["dup_of"] for r in fsi.read_decisions(spark, store).collect()}
    assert dec == {4: 1, 7: 3}

    # probe serving under the new geometry
    pr = cli(
        [
            "dedup", "probe", "--path", store,
            "--sf-dir", "/root/testdata/sf0.001",
            "--num-hashes", "64", "--bands", "16", "--shingle-n", "3",
        ]
    )
    assert pr["probed"] > 0  # fence admitted the matching geometry


@pytest.mark.slow
def test_maintain_store_threshold_fold_and_stats(spark, tmp_path):
    """Round-12 VERDICT Next #5 — the store's composed cron body:
    ``store_stats`` reports fragmentation / counts / dup rate in one
    call; ``maintain_store`` no-ops below the subtree threshold, folds
    above it (state-invariant, epoch-fenced via the same compaction),
    sweeps retention, and self-quiesces — the next tick reads
    fragmentation 1 and no-ops."""
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    store = str(tmp_path / "fstore")
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.7)
    for b in range(5):
        rows = [(100 * b + j, _w(f"b{b}d{j}")) for j in range(3)]
        if b == 4:
            rows.append((997, _w("b0d0")))  # exact dup of batch-0's doc
        writer(
            spark.createDataFrame(rows, "doc_id long, text string"), b
        )

    stats = fsi.store_stats(spark, store)
    assert stats["epoch"] == 5  # one bump per applied batch
    assert stats["geometry"] == {"num_hashes": 32, "bands": 8, "shingle_n": 3}
    assert stats["subtrees"] == {"store": 5, "docs": 5, "decisions": 1}
    assert stats["docs"] == 15 and stats["band_rows"] == 15 * 8
    assert stats["decisions"] == 1
    assert abs(stats["dup_decision_rate"] - 1 / 16) < 1e-12

    before = _fuzzy_state(spark, fsi, store)

    # below threshold: measurement only — no fold, no epoch movement
    out = fsi.maintain_store(spark, store, max_subtrees=8, min_age_seconds=0.0)
    assert out["compacted"] is False and out["epoch"] == 5
    # no snapshot dir is superseded yet — the sweep only reaps the
    # four superseded per-batch manifest FILES
    assert all("manifest" in n for n in out["expired"]), out["expired"]
    assert _fuzzy_state(spark, fsi, store) == before

    # above threshold: fold + sweep, state invariant, epoch bumped
    out2 = fsi.maintain_store(spark, store, max_subtrees=3, min_age_seconds=0.0)
    assert out2["compacted"] is True and out2["epoch"] == 6
    assert out2["subtrees"] == {"store": 5, "docs": 5, "decisions": 1}  # pre-fold
    assert out2["expired"]  # legacy fixed dirs swept after the fold
    assert _fuzzy_state(spark, fsi, store) == before

    # self-quiescing: one base subtree per kind → next tick no-ops
    out3 = fsi.maintain_store(spark, store, max_subtrees=3, min_age_seconds=0.0)
    assert out3["compacted"] is False and out3["epoch"] == 6
    assert out3["subtrees"] == {"store": 1, "docs": 1, "decisions": 1}
    assert _fuzzy_state(spark, fsi, store) == before


# -- streaming SCD-2 upsert sink ----------------------------------------------
def test_pit_enriched_stream_matches_batch_over_converged_dim(spark, tmp_path):
    """VERDICT r13 #2 pin 1: facts streamed through
    run_pit_enriched_stream against a converged SCD-2 dimension are
    BIT-EQUAL to the batch scd2_pit_join over the same facts and
    dimension — across multiple micro-batches."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.queries.reshape import scd2_pit_join
    from streampro_assignment_etl_spark.sources.testdata import load_table
    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_pit_enriched_stream,
        run_scd2_upsert_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").alias("change_id"),
    )
    changes_dir = str(tmp_path / "changes")
    ev.coalesce(1).write.parquet(changes_dir)
    dim_path = str(tmp_path / "dim")
    run_scd2_upsert_stream(
        spark.readStream.schema(ev.schema).parquet(changes_dir),
        dim_path,
        str(tmp_path / "ck_dim"),
    )

    facts = ev.select("user_id", F.col("change_id").alias("fact_id"), "ts_us")
    landing = tmp_path / "facts"
    half = facts.agg(F.expr("percentile(ts_us, 0.5)")).collect()[0][0]
    facts.filter(F.col("ts_us") < half).coalesce(1).write.parquet(
        str(landing / "f0")
    )
    facts.filter(F.col("ts_us") >= half).coalesce(1).write.parquet(
        str(landing / "f1")
    )
    out = str(tmp_path / "enriched")
    run_pit_enriched_stream(
        spark.readStream.schema(facts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*"),
        dim_path,
        out,
        str(tmp_path / "ck_pit"),
    )
    cols = ["user_id", "fact_id", "ts_us", "valid_from_us", "valid_to_us", "status"]
    streamed = sorted(
        tuple(r)
        for r in spark.read.option("basePath", out).parquet(out)
        .select(*cols)
        .collect()
    )
    batch = sorted(
        tuple(r)
        for r in scd2_pit_join(facts, spark.read.parquet(dim_path))
        .select(*cols)
        .collect()
    )
    assert streamed and streamed == batch


def test_pit_enriched_stream_sees_mid_stream_dimension_update(spark, tmp_path):
    """VERDICT r13 #2 pin 2: a dimension update landing MID-STREAM is
    visible to later batches (the per-batch dimension re-read), while
    earlier batches keep the validity view that was current when they
    ran; unknown keys survive the left join with NULL status."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_pit_enriched_stream,
        run_scd2_upsert_stream,
    )

    chg_schema = "user_id string, status string, ts_us long, change_id long"
    dim_path = str(tmp_path / "dim")

    def apply_changes(rows, ck):
        d = str(tmp_path / f"chg_{ck}")
        spark.createDataFrame(rows, chg_schema).coalesce(1).write.parquet(d)
        run_scd2_upsert_stream(
            spark.readStream.schema(chg_schema).parquet(d),
            dim_path,
            str(tmp_path / f"ck_{ck}"),
        )

    apply_changes([("u1", "A", 100, 1), ("u2", "X", 100, 2)], "w1")

    fact_schema = "user_id string, fact_id long, ts_us long"
    landing = tmp_path / "facts"
    out = str(tmp_path / "enriched")
    ck_pit = str(tmp_path / "ck_pit")

    def drain(rows, fname):
        spark.createDataFrame(rows, fact_schema).coalesce(1).write.parquet(
            str(landing / fname)
        )
        run_pit_enriched_stream(
            spark.readStream.schema(fact_schema).parquet(f"{landing}/*"),
            dim_path,
            out,
            ck_pit,
        )

    drain([("u1", 1, 500), ("u2", 2, 500), ("u9", 9, 500)], "f0")
    # dimension update lands between the two fact waves: u1 flips to B
    # at ts 300 — a backfill INSIDE history, re-derived by the apply
    apply_changes([("u1", "B", 300, 3)], "w2")
    drain([("u1", 3, 600), ("u2", 4, 600)], "f1")

    got = {
        r["fact_id"]: r["status"]
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    # batch 0 ran under the pre-update dimension: u1@500 -> A
    # batch 1 ran after the update: u1@600 falls in B's interval
    assert got == {1: "A", 2: "X", 9: None, 3: "B", 4: "X"}


@pytest.mark.fast
def test_scd2_bucketed_sink_converges_and_skips_untouched_buckets(
    spark, tmp_path
):
    """VERDICT r13 #7: the bucketed Type-2 sink. (1) The same 3-wave
    out-of-order convergence as the full-rewrite sink — result
    bit-equal (modulo the bucket layout column) to the bulk SCD-2,
    i.e. to what run_scd2_upsert_stream produces. (2) A follow-up
    batch touching ONE key rewrites only that key's bucket: every
    untouched bucket's files are byte-identical afterwards (not
    rewritten, not even opened for write). (3) Crash debris in a
    bucket swap is recovered at the next batch."""
    import glob
    import hashlib
    import os

    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.queries import EXTRAS
    from streampro_assignment_etl_spark.sources.testdata import load_table
    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_scd2_upsert_stream_bucketed,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").alias("change_id"),
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    landing = tmp_path / "scd2b_landing"
    for name, cond in [
        ("f0_mid", (F.col("ts_us") >= t1) & (F.col("ts_us") < t2)),
        ("f1_late", F.col("ts_us") >= t2),
        ("f2_backfill", F.col("ts_us") < t1),
    ]:
        ev.filter(cond).coalesce(1).write.parquet(str(landing / name))

    target = str(tmp_path / "scd2b_dim")
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*"),
        target,
        str(tmp_path / "ckb1"),
        n_buckets=8,
    )
    cols = ["user_id", "status", "valid_from_us", "valid_to_us", "is_current"]
    bulk = sorted(
        tuple(r)
        for r in EXTRAS["scd2_user_type_history"].builder(spark, sf).collect()
    )
    got = sorted(
        tuple(r) for r in spark.read.parquet(target).select(*cols).collect()
    )
    assert got == bulk
    # bucket layout: every key's rows live in its hash bucket
    misplaced = (
        spark.read.option("basePath", target).parquet(target)
        .filter(F.col("bucket") != F.pmod(F.hash("user_id"), F.lit(8)))
        .count()
    )
    assert misplaced == 0
    # one file per POPULATED bucket per rewrite (repartition-on-bucket
    # pin): a plain partitionBy would shard each bucket across shuffle
    # tasks; an unpopulated hash bucket legitimately has no dir
    bucket_dirs = glob.glob(os.path.join(target, "bucket=*"))
    assert bucket_dirs, target
    for d in bucket_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (d, files)

    # (2) surgical batch: one key -> one bucket rewritten
    victim = spark.read.parquet(target).select("user_id").first()["user_id"]
    vb = spark.createDataFrame([(victim,)], "user_id long").select(
        F.pmod(F.hash("user_id"), F.lit(8)).alias("b")
    ).first()["b"]
    md5s = lambda b: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(target, f"bucket={b}", "*.parquet"))
    }
    before = {b: md5s(b) for b in range(8)}
    chg2 = str(tmp_path / "chg2")
    spark.createDataFrame(
        [(victim, "zzz_new_status", int(hi) + 10_000_000, 999_999_001)],
        "user_id long, status string, ts_us long, change_id long",
    ).coalesce(1).write.parquet(chg2)
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(ev.schema).parquet(chg2),
        target,
        str(tmp_path / "ckb2"),
        n_buckets=8,
    )
    after = {b: md5s(b) for b in range(8)}
    for b in range(8):
        if b == int(vb):
            assert after[b] != before[b], "victim bucket must be rewritten"
        else:
            assert after[b] == before[b], f"bucket {b} rewritten needlessly"
    newest = (
        spark.read.parquet(target)
        .filter((F.col("user_id") == victim) & F.col("is_current"))
        .select("status")
        .first()["status"]
    )
    assert newest == "zzz_new_status"

    # (3) crash recovery: simulate a crash between swap steps 1 and 2 —
    # bucket dir renamed away, .old-* left behind; the next batch's
    # recovery sweep restores it and the merge proceeds normally
    import pathlib
    import shutil

    root = pathlib.Path(target)
    vb_dir = root / f"bucket={vb}"
    vb_dir.rename(root / f".old-bucket={vb}-deadbeef")
    chg3 = str(tmp_path / "chg3")
    spark.createDataFrame(
        [(victim, "post_crash", int(hi) + 20_000_000, 999_999_002)],
        "user_id long, status string, ts_us long, change_id long",
    ).coalesce(1).write.parquet(chg3)
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(ev.schema).parquet(chg3),
        target,
        str(tmp_path / "ckb3"),
        n_buckets=8,
    )
    assert not list(root.glob(".old-bucket=*"))
    hist = sorted(
        (r["status"], r["is_current"])
        for r in spark.read.parquet(target)
        .filter(F.col("user_id") == victim)
        .select("status", "is_current")
        .collect()
        if r["status"].startswith(("zzz", "post"))
    )
    assert hist == [("post_crash", True), ("zzz_new_status", False)]
    shutil.rmtree(str(tmp_path / "scd2b_landing"), ignore_errors=True)


@pytest.mark.fast
@pytest.mark.slow
def test_takedown_request_stream_drains_and_audits(spark, tmp_path):
    """streaming/takedown_stream.py: a continuous deletion-request
    topic drained through cascade_takedown with a per-batch audit.
    Pins: two request batches erase their subjects from the store AND
    the lake table (verified clean through verify_takedown); the audit
    carries one row per batch with the application counts; a replay
    from a fresh checkpoint converges (surfaces already clean → zero
    counts in the replayed audit, state unchanged); the fat-finger
    guard stops a batch naming more subjects than the bound before any
    surface is touched."""
    import os

    import pytest

    from streampro_assignment_etl_spark.operators.takedown import (
        verify_takedown,
    )
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi
    from streampro_assignment_etl_spark.streaming.takedown_stream import (
        read_takedown_audit,
        run_takedown_request_stream,
    )

    # subjects live in two surfaces: the fuzzy store and a lake table
    docs = spark.createDataFrame(
        [(i, _w(f"d{i} ")) for i in range(1, 7)], "doc_id long, text string"
    )
    store = str(tmp_path / "td_store")
    fsi.make_fuzzy_ingest_writer(store, threshold=0.95)(docs, 0)
    tbl = str(tmp_path / "td_tbl")
    docs.repartition(3, "doc_id").write.parquet(tbl)

    landing = tmp_path / "td_requests"
    schema = "request_id long, doc_id long"
    spark.createDataFrame([(100, 1), (100, 2)], schema).coalesce(
        1
    ).write.parquet(str(landing / "r1"))
    spark.createDataFrame([(101, 3), (102, 3), (102, 5)], schema).coalesce(
        1
    ).write.parquet(str(landing / "r2"))

    audit = str(tmp_path / "td_audit")
    run_takedown_request_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*"),
        audit,
        str(tmp_path / "td_ck1"),
        store_path=store,
        tables=((tbl, "doc_id"),),
    )
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {4, 6}
    assert {r["doc_id"] for r in spark.read.parquet(tbl).collect()} == {4, 6}
    ev = verify_takedown(spark, [1, 2, 3, 5], store_path=store, tables=((tbl, "doc_id"),))
    assert ev["clean"] is True and ev["physical_clean"] is True

    rows = {
        tuple(r["subject_ids"]): r
        for r in read_takedown_audit(spark, audit).collect()
    }
    assert len(rows) == 2
    b0, b1 = rows[("1", "2")], rows[("3", "5")]
    assert b0["request_ids"] == [100]
    assert b0["store_removed_docs"] == 2 and b0["table_rows_deleted"] == 2
    assert b1["request_ids"] == [101, 102] and b1["n_subjects"] == 2
    assert b1["index_deleted_rows"] == 0 and b1["scd2_rows_deleted"] == 0

    # replay from a fresh checkpoint: cascades no-op (ids already gone,
    # tombstones re-adjudicate), audit overwritten with zero counts
    run_takedown_request_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*"),
        audit,
        str(tmp_path / "td_ck2"),
        store_path=store,
        tables=((tbl, "doc_id"),),
    )
    assert {r["doc_id"] for r in spark.read.parquet(tbl).collect()} == {4, 6}
    replayed = {
        tuple(r["subject_ids"]): r
        for r in read_takedown_audit(spark, audit).collect()
    }
    # application log, not truth: the replayed batch found no work left
    assert replayed[("1", "2")]["store_removed_docs"] == 0
    assert replayed[("1", "2")]["table_rows_deleted"] == 0

    # fat-finger guard: a poisoned batch naming > max subjects fails
    # the stream BEFORE touching any surface
    wide = tmp_path / "td_wide"
    spark.createDataFrame(
        [(200, i) for i in range(10)], schema
    ).coalesce(1).write.parquet(str(wide / "w1"))
    state = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="max_ids_per_batch"):
        run_takedown_request_stream(
            spark.readStream.schema(schema).parquet(f"{wide}/*"),
            str(tmp_path / "td_audit2"),
            str(tmp_path / "td_ck3"),
            tables=((tbl, "doc_id"),),
            max_ids_per_batch=4,
        )
    assert sorted(tuple(r) for r in spark.read.parquet(tbl).collect()) == state
    assert not os.path.exists(str(tmp_path / "td_audit2"))

    # no surfaces configured is a loud construction error
    with pytest.raises(ValueError, match="at least one surface"):
        run_takedown_request_stream(
            spark.readStream.schema(schema).parquet(f"{wide}/*"),
            str(tmp_path / "x"),
            str(tmp_path / "y"),
        )

    # CLI face (the cron/daemon entry): drain new requests from a dir
    from streampro_assignment_etl_spark.pipeline.cli import main

    spark.createDataFrame([(400, 6)], schema).coalesce(1).write.parquet(
        str(landing / "r3")
    )
    rc = main([
        "takedown",
        "--requests-dir", f"{landing}/*",
        "--audit-dir", audit,
        "--checkpoint-dir", str(tmp_path / "td_ck1"),  # resume: only r3 new
        "--table", f"{tbl}:doc_id",
        "--store", store,
    ])
    assert rc == 0
    assert {r["doc_id"] for r in spark.read.parquet(tbl).collect()} == {4}
    # stream mode demands the audit/checkpoint pair
    assert main(["takedown", "--requests-dir", f"{landing}/*", "--table", f"{tbl}:doc_id"]) == 2

    # a NULL subject id is a malformed request: loud failure with the
    # surfaces untouched, never a silent drop that leaves a subject
    # un-erased without a trace
    dirty = tmp_path / "td_dirty"
    spark.createDataFrame(
        [(300, 4), (301, None)], schema
    ).coalesce(1).write.parquet(str(dirty / "d1"))
    with pytest.raises(StreamingQueryException, match="NULL doc_id"):
        run_takedown_request_stream(
            spark.readStream.schema(schema).parquet(f"{dirty}/*"),
            str(tmp_path / "td_audit3"),
            str(tmp_path / "td_ck4"),
            tables=((tbl, "doc_id"),),
        )
    assert {r["doc_id"] for r in spark.read.parquet(tbl).collect()} == {4}

    # a NULL request_id is equally malformed (ADVICE r15 #3): same loud
    # poison pill, not an opaque TypeError from the audit build
    dirty2 = tmp_path / "td_dirty2"
    spark.createDataFrame(
        [(None, 4)], schema
    ).coalesce(1).write.parquet(str(dirty2 / "d1"))
    with pytest.raises(StreamingQueryException, match="NULL doc_id or NULL request_id"):
        run_takedown_request_stream(
            spark.readStream.schema(schema).parquet(f"{dirty2}/*"),
            str(tmp_path / "td_audit4"),
            str(tmp_path / "td_ck5"),
            tables=((tbl, "doc_id"),),
        )
    assert {r["doc_id"] for r in spark.read.parquet(tbl).collect()} == {4}

    # --verify-only / --semantic-threshold are one-shot-mode flags: in
    # stream mode they must be REJECTED, not silently ignored while the
    # destructive cascade runs (ADVICE r15 #2)
    for extra in (["--verify-only"], ["--semantic-threshold", "0.9"]):
        rc = main([
            "takedown",
            "--requests-dir", f"{landing}/*",
            "--audit-dir", audit,
            "--checkpoint-dir", str(tmp_path / "td_ck_reject"),
            "--table", f"{tbl}:doc_id",
            *extra,
        ])
        assert rc == 2
    assert {r["doc_id"] for r in spark.read.parquet(tbl).collect()} == {4}


@pytest.mark.slow
def test_scd2_bucketed_sink_auto_select_and_full_swap_recovery(spark, tmp_path):
    """VERDICT r14 #5: the bucketed-vs-full crossover rule (SCALE.md
    prose until now) is applied automatically per batch. Pins: a 1-key
    batch takes the bucket-pruned path, a 100-key scattered batch over
    the toy-sized dimension takes the full staged swap (the measured
    birthday-effect loss case), the final table is bit-equal to the
    bulk SCD-2 over the whole log either way, the override knob forces
    the path, and a hard crash inside the full swap (dimension left
    under its .old-* backup) is restored at the next batch instead of
    being misread as a fresh table and re-bootstrapped from one batch."""
    import os
    import pathlib

    from streampro_assignment_etl_spark.queries.reshape import scd2_from_log
    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_scd2_upsert_stream,
        run_scd2_upsert_stream_bucketed,
    )

    schema = "user_id long, status string, ts_us long, change_id long"
    boot = [
        (u, f"s{c}", 1_000_000 * (c + 1), u * 10 + c)
        for u in range(100)
        for c in range(2)
    ]
    focused = [(7, "focused", 5_000_000, 99_001)]
    scattered = [(u, "scat", 6_000_000 + u, 99_100 + u) for u in range(100)]
    landing = tmp_path / "as_landing"
    for name, wave in [("w0", boot), ("w1", focused), ("w2", scattered)]:
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            str(landing / name)
        )
    dim = str(tmp_path / "as_dim")
    log: list = []
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*"),
        dim,
        str(tmp_path / "as_ck"),
        n_buckets=8,
        plan_log=log,
    )
    # batch 0 bootstraps (no decision); batch 1 = focused -> bucketed;
    # batch 2 = scattered over every bucket of a toy dim -> full swap
    assert [e["mode"] for e in log] == ["bucketed", "full"]
    assert log[0]["touched_buckets"] == 1
    assert log[1]["touched_buckets"] == 8
    bulk = sorted(
        tuple(r)
        for r in scd2_from_log(
            spark.createDataFrame(boot + focused + scattered, schema),
            "change_id",
        ).collect()
    )
    cols = ["user_id", "status", "valid_from_us", "valid_to_us", "is_current"]
    got = lambda d: sorted(  # noqa: E731
        tuple(r) for r in spark.read.parquet(d).select(*cols).collect()
    )
    assert got(dim) == bulk

    # override knob: force the bucketed path on the same scattered wave
    dim2 = str(tmp_path / "as_dim2")
    log2: list = []
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*"),
        dim2,
        str(tmp_path / "as_ck2"),
        n_buckets=8,
        mode="bucketed",
        plan_log=log2,
    )
    assert [e["mode"] for e in log2] == ["bucketed", "bucketed"]
    assert got(dim2) == bulk  # cost choice, never a semantics one

    # hard crash inside the full swap: dimension sits under .old-*,
    # root missing — the next batch restores it and merges on top
    root = pathlib.Path(dim)
    os.rename(dim, str(root.parent / f".{root.name}.old-deadbeef"))
    late = tmp_path / "as_late"
    spark.createDataFrame(
        [(7, "post_crash", 9_000_000, 99_999)], schema
    ).coalesce(1).write.parquet(str(late / "w3"))
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(schema).parquet(f"{late}/*"),
        dim,
        str(tmp_path / "as_ck3"),
        n_buckets=8,
    )
    assert spark.read.parquet(dim).count() == len(bulk) + 1  # not re-bootstrapped
    cur = (
        spark.read.parquet(dim)
        .filter("user_id = 7 AND is_current")
        .first()["status"]
    )
    assert cur == "post_crash"

    # same window on the FULL sink (every batch swaps): restore, merge
    dim3 = str(tmp_path / "as_dim3")
    run_scd2_upsert_stream(
        spark.readStream.schema(schema).parquet(f"{landing}/w0"),
        dim3,
        str(tmp_path / "as_ck4"),
    )
    n3 = spark.read.parquet(dim3).count()
    root3 = pathlib.Path(dim3)
    os.rename(dim3, str(root3.parent / f".{root3.name}.old-feedface"))
    run_scd2_upsert_stream(
        spark.readStream.schema(schema).parquet(f"{late}/*"),
        dim3,
        str(tmp_path / "as_ck5"),
    )
    assert spark.read.parquet(dim3).count() == n3 + 1


def test_scd2_forget_key_fourth_takedown_surface(spark, tmp_path):
    """VERDICT r14 #6: erasure isn't complete while the SCD-2 dimension
    retains the subject's status history. scd2_forget_key — wired as
    cascade_takedown's fourth surface — drops the key's rows via the
    bucket-pruned delete_where AND commits a forget tombstone first, so
    a REPLAYED change wave (checkpoint reset) re-adjudicates instead of
    resurrecting the history. Pins: key gone from the dimension;
    untouched buckets byte-identical; PIT joins return NULL for the
    subject; verify_takedown reports the guard; the replayed wave
    leaves the key out while every other key converges."""
    import glob
    import hashlib
    import os

    from streampro_assignment_etl_spark.operators.takedown import (
        cascade_takedown,
        verify_takedown,
    )
    from streampro_assignment_etl_spark.queries.reshape import scd2_pit_join
    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_scd2_upsert_stream_bucketed,
        scd2_forgotten_keys,
    )

    schema = "user_id long, status string, ts_us long, change_id long"
    rows = [
        (u, f"s{c}", 1_000_000 * (c + 1), u * 100 + c)
        for u in range(20)
        for c in range(3)
    ]
    landing = tmp_path / "fg_landing"
    wave1 = [r for r in rows if r[2] <= 2_000_000]
    wave2 = [r for r in rows if r[2] > 2_000_000]
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(
        str(landing / "w1")
    )
    spark.createDataFrame(wave2, schema).coalesce(1).write.parquet(
        str(landing / "w2")
    )
    dim = str(tmp_path / "fg_dim")
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(schema).parquet(f"{landing}/*"),
        dim,
        str(tmp_path / "fg_ck1"),
        n_buckets=8,
    )
    victim = 7
    vb = spark.sql(f"SELECT pmod(hash({victim}L), 8) AS b").first()["b"]
    md5s = lambda b: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(dim, f"bucket={b}", "*.parquet"))
    }
    before = {b: md5s(b) for b in range(8)}

    out = cascade_takedown(spark, [victim], scd2_dim_path=dim)
    assert out["scd2"]["rows_deleted"] == 3  # s0,s1,s2 history rows
    assert out["scd2"]["files_rewritten"] == 1  # only the victim bucket
    after = {b: md5s(b) for b in range(8)}
    for b in range(8):
        if b == int(vb):
            assert after[b] != before[b]
        else:
            assert after[b] == before[b], b
    got = spark.read.parquet(dim)
    assert got.filter(f"user_id = {victim}").count() == 0
    assert got.count() == 19 * 3
    assert scd2_forgotten_keys(dim) == [victim]

    # PIT enrichment: the forgotten subject resolves to NULL, the
    # left-join contract for dimension gaps; neighbors still resolve
    facts = spark.createDataFrame(
        [(victim, 2_500_000), (8, 2_500_000)], "user_id long, ts_us long"
    )
    pit = {
        r["user_id"]: r["status"]
        for r in scd2_pit_join(facts, got.drop("bucket")).collect()
    }
    assert pit == {victim: None, 8: "s1"}

    # erasure evidence names the standing guard
    ev = verify_takedown(spark, [victim], scd2_dim_path=dim)
    assert ev["clean"] is True and ev["physical_clean"] is True
    assert ev["scd2"] == {"history_rows": 0, "forget_guarded": [victim]}

    # replayed change wave (fresh checkpoint re-reads the landing dir):
    # the victim stays out, every other key converges bit-equal
    state = sorted(
        tuple(r) for r in spark.read.parquet(dim).drop("bucket").collect()
    )
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(schema).parquet(f"{landing}/*"),
        dim,
        str(tmp_path / "fg_ck2"),
        n_buckets=8,
    )
    assert spark.read.parquet(dim).filter(f"user_id = {victim}").count() == 0
    assert (
        sorted(tuple(r) for r in spark.read.parquet(dim).drop("bucket").collect())
        == state
    )

    # forgetting an unknown key: tombstone still lands (future replays
    # of that key are banned), zero rows rewritten
    out2 = cascade_takedown(spark, [9_999], scd2_dim_path=dim)
    assert out2["scd2"]["rows_deleted"] == 0
    assert sorted(scd2_forgotten_keys(dim)) == [victim, 9_999]


@pytest.mark.slow
def test_scd2_object_store_sink_forget_and_cascade_against_moto_s3(
    spark, tmp_path, moto_s3
):
    """VERDICT r15 #1: the SCD-2 dimension — the subject-history store
    a DSR most directly names — was the last takedown/lifecycle path
    that required a local filesystem. Pins, over a real S3 wire
    protocol (moto) from a connector-less JVM (Spark bridged through a
    driver-local mirror of only the affected buckets):

    1. the bucketed sink bootstraps + merges an S3-rooted dimension via
       the manifest file-swap, bit-equal to the local sink on the same
       change log;
    2. a one-key batch rewrites only that key's bucket — every other
       bucket's objects are ETag-identical;
    3. ``scd2_forget_key`` erases a planted subject (seam tombstone +
       bucket-pruned delete_where), surviving buckets ETag-identical;
    4. a replayed change wave (fresh checkpoint) does NOT resurrect
       the forgotten subject — the tombstone is read through the seam;
    5. a fabricated crash window (committed-but-unreplayed swap
       manifest) is replayed to convergence, and foreign dot-files are
       left alone;
    6. one ``cascade_takedown`` erases the subject from an S3 lake
       table AND the S3 dimension, and ``verify_takedown`` certifies
       clean + physical_clean through the same seams."""
    import json as _json

    import boto3
    import pyarrow.dataset as pads
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.operators.takedown import (
        cascade_takedown,
        verify_takedown,
    )
    from streampro_assignment_etl_spark.streaming.events_stream import (
        recover_scd2_object_swap,
        run_scd2_upsert_stream_bucketed,
        scd2_forget_key,
        scd2_forgotten_keys,
    )

    bucket = "sparkgraft-scd2"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3,
        access_key="testing",
        secret_key="testing",
        region="us-east-1",
    )
    dim = f"{bucket}/lake/dim_users"
    schema = "user_id long, status string, ts_us long, change_id long"
    wave1 = [(u, f"w1-{u}", 1_000_000 + u, 100 + u) for u in range(6)]
    wave2 = [(u, f"w2-{u}", 2_000_000 + u, 200 + u) for u in (1, 2, 5)]
    landing = tmp_path / "s3scd2_landing"
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(
        str(landing / "w1")
    )
    spark.createDataFrame(wave2, schema).coalesce(1).write.parquet(
        str(landing / "w2")
    )
    cols = ["user_id", "status", "valid_from_us", "valid_to_us", "is_current"]

    def drain(ck, target=dim, filesystem=fs):
        run_scd2_upsert_stream_bucketed(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{landing}/*"),
            target,
            str(tmp_path / ck),
            n_buckets=4,
            filesystem=filesystem,
        )

    def s3_rows():
        t = pads.dataset(
            dim, filesystem=fs, format="parquet", partitioning="hive"
        ).to_table(columns=cols)
        return sorted(zip(*[t[c].to_pylist() for c in cols]))

    def etags(prefix="lake/dim_users/"):
        return {
            o["Key"]: o["ETag"]
            for o in s3.list_objects_v2(Bucket=bucket, Prefix=prefix).get(
                "Contents", []
            )
            if not o["Key"].endswith("/")  # pyarrow's dir-marker objects
        }

    # (1) bootstrap + merge over two micro-batches, vs the local oracle
    drain("s3ck1")
    local_dim = str(tmp_path / "local_dim")
    drain("s3ck_local", target=local_dim, filesystem=None)
    local_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(local_dim).select(*cols).collect()
    )
    assert s3_rows() == local_rows

    # (2) surgical merge: one key -> one bucket's objects change
    victim = 2
    vb = int(
        spark.createDataFrame([(victim,)], "user_id long")
        .select(F.pmod(F.hash("user_id"), F.lit(4)).alias("b"))
        .first()["b"]
    )
    before = etags()
    chg = tmp_path / "s3chg_one"
    spark.createDataFrame(
        [(victim, "w3-solo", 3_000_000, 300)], schema
    ).coalesce(1).write.parquet(str(chg))
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(schema).parquet(str(chg)),
        dim,
        str(tmp_path / "s3ck2"),
        n_buckets=4,
        filesystem=fs,
    )
    after = etags()
    for k, v in before.items():
        if f"bucket={vb}/" not in k:
            assert after.get(k) == v, f"untouched bucket object {k} changed"
        else:
            assert k not in after  # victim bucket: old file swapped out
    assert any(f"bucket={vb}/" in k for k in after)

    # (3) forget the subject: history rows gone, other buckets' objects
    # ETag-identical, tombstone readable through the seam
    before = etags()
    out = scd2_forget_key(spark, dim, [victim], filesystem=fs)
    assert out["requested"] == 1 and out["rows_deleted"] == 3
    assert scd2_forgotten_keys(dim, fs) == [victim]
    assert [r for r in s3_rows() if r[0] == victim] == []
    after = etags()
    for k, v in before.items():
        if f"bucket={vb}/" not in k:
            assert after.get(k) == v, f"forget rewrote unrelated object {k}"

    # (4) replayed change wave from a fresh checkpoint: the forgotten
    # subject stays erased, everything else converges unchanged
    state = s3_rows()
    drain("s3ck_replay")
    assert [r for r in s3_rows() if r[0] == victim] == []
    assert s3_rows() == state

    # (5) crash window: a committed-but-unreplayed swap manifest (old
    # file still live, staged replacement uploaded, manifest present).
    # Entry-time recovery replays it; a foreign dot-file survives.
    some_key = sorted(k for k in etags() if k.endswith(".parquet"))[0]
    some_rel = some_key[len("lake/dim_users/") :]
    bdir = some_rel.rsplit("/", 1)[0]
    staged_rel = f"{bdir}/.scd2-feedfacefeed-0.parquet"
    final_rel = f"{bdir}/part-scd2-feedfacefeed-0.parquet"
    with fs.open_input_stream(f"{bucket}/{some_key}") as src:
        body = src.read()
    with fs.open_output_stream(f"{dim}/{staged_rel}") as o:
        o.write(body)
    with fs.open_output_stream(
        f"{dim}/.scd2-manifest-feedfacefeed.json"
    ) as o:
        o.write(
            _json.dumps(
                [
                    {
                        "bucket": int(bdir.split("=")[1]),
                        "old": [some_rel],
                        "staged": [staged_rel],
                        "final": [final_rel],
                    }
                ]
            ).encode()
        )
    with fs.open_output_stream(f"{dim}/{bdir}/.scd2-notatoken-x.parquet") as o:
        o.write(b"foreign artifact")
    assert recover_scd2_object_swap(dim, fs) is True
    keys = set(etags())
    assert f"lake/dim_users/{final_rel}" in keys
    assert some_key not in keys
    assert "lake/dim_users/.scd2-manifest-feedfacefeed.json" not in keys
    assert f"lake/dim_users/{bdir}/.scd2-notatoken-x.parquet" in keys
    fs.delete_file(f"{dim}/{bdir}/.scd2-notatoken-x.parquet")
    assert s3_rows() == state  # the replayed swap is content-neutral

    # (6) the GDPR cascade against an S3-rooted lake, dimension
    # included (the exact r15 gap): one call, both surfaces, then
    # read-only evidence through the same seams
    subject = 5
    tbl_local = tmp_path / "s3tbl_local"
    spark.createDataFrame(
        [(u, f"doc-{u}") for u in range(6)], "user_id long, text string"
    ).repartition(2).write.parquet(str(tbl_local))
    tbl = f"{bucket}/lake/user_docs"
    for p in tbl_local.rglob("*.parquet"):
        rel = p.relative_to(tbl_local).as_posix()
        with open(p, "rb") as f, fs.open_output_stream(f"{tbl}/{rel}") as o:
            o.write(f.read())
    rep = cascade_takedown(
        spark,
        [subject],
        tables=((tbl, "user_id"),),
        scd2_dim_path=dim,
        table_filesystem=fs,
    )
    assert rep["tables"][tbl]["rows_deleted"] == 1
    assert rep["scd2"]["rows_deleted"] > 0
    ev = verify_takedown(
        spark,
        [subject],
        tables=((tbl, "user_id"),),
        scd2_dim_path=dim,
        table_filesystem=fs,
    )
    assert ev["clean"] is True and ev["physical_clean"] is True
    assert ev["scd2"]["history_rows"] == 0
    assert ev["scd2"]["forget_guarded"] == [subject]

    # the evidence scans accept Hadoop's s3a:// alias with NO injected
    # filesystem (the URI form the Spark-side seams document) — pyarrow
    # only knows s3://, so the alias must normalize, not crash
    ev2 = verify_takedown(
        spark,
        [subject],
        tables=((f"s3a://{tbl}", "user_id"),),
        scd2_dim_path=f"s3a://{dim}",
    )
    assert ev2["clean"] is True and ev2["physical_clean"] is True


def test_scd2_stream_out_of_order_waves_converge_and_replay_idempotent(
    spark, tmp_path
):
    """run_scd2_upsert_stream: three waves arriving OUT OF ORDER (middle
    period, late period, then the EARLIEST as a backfill) must converge
    to the bulk SCD-2 over all events — the splice capability the SCD-1
    sink lacks — and a full replay (fresh checkpoint, same landing)
    against the already-built table must leave it bit-identical
    (idempotent merge = exactly-once under checkpoint retries)."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.queries import EXTRAS
    from streampro_assignment_etl_spark.sources.testdata import load_table
    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_scd2_upsert_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").alias("change_id"),
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    landing = tmp_path / "scd2_landing"
    # time-ordered thirds written middle, late, EARLIEST-last (backfill)
    for name, cond in [
        ("f0_mid", (F.col("ts_us") >= t1) & (F.col("ts_us") < t2)),
        ("f1_late", F.col("ts_us") >= t2),
        ("f2_backfill", F.col("ts_us") < t1),
    ]:
        ev.filter(cond).coalesce(1).write.parquet(str(landing / name))

    target = str(tmp_path / "scd2_dim")
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*")
    )
    run_scd2_upsert_stream(src, target, str(tmp_path / "ck1"))

    bulk = sorted(
        tuple(r)
        for r in EXTRAS["scd2_user_type_history"].builder(spark, sf).collect()
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(target)
        .select("user_id", "status", "valid_from_us", "valid_to_us", "is_current")
        .collect()
    )
    assert got == bulk

    # Full replay with a fresh checkpoint: every batch re-merges into
    # the converged table; the result must not move.
    src2 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*")
    )
    run_scd2_upsert_stream(src2, target, str(tmp_path / "ck2"))
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(target)
        .select("user_id", "status", "valid_from_us", "valid_to_us", "is_current")
        .collect()
    )
    assert again == bulk
