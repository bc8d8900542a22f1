"""Streaming events pipeline: landing JSONL → watermark → windows → trusted.

Spark-first upgrade of the reference's batch-simulated event feed
(raw_to_trusted_processor.py:60-79 parses an events JSONL in pandas;
SURVEY §1.1 maps it to ``spark.readStream.json``). Design points for a
real cluster:

* **Typed source.** ``readStream.schema(...)`` from the registry — a
  streaming source must never infer schemas (inference would re-scan
  the directory and can drift between micro-batches).
* **Watermarks bound state.** Windowed aggregations keep state only
  until `watermark` passes the window end; without it, state grows
  with the key space forever (the classic 100 TB streaming failure).
* **session_window** is the native counterpart of the reference's
  string-encoded sessions (SURVEY §1.4): event-time sessions with a
  gap timeout, stateful merge handled by Spark.
* **foreachBatch sink** writes each micro-batch as partitioned parquet
  through the exact same writer contract as the batch pipeline, so
  downstream consumers cannot tell which path produced a partition.
* **availableNow trigger** gives bounded, catch-up execution: process
  everything present, then stop — this is also what makes the
  batch-equivalence tests (and the driver-checked query) deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec
from ..pipeline.schemas import TESTDATA_TABLES
from ._drain import drain_available_now, drain_confs

EVENTS_SCHEMA = TESTDATA_TABLES["trusted_events"].struct  # ts arrives as string


def read_events_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Typed streaming read of events JSONL files in a landing dir,
    with an event-time column parsed for watermarking."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .json(landing_dir)
        .withColumn("ts_event", F.to_timestamp("ts"))
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window rollup per event_type with bounded state.

    Decimal-summed values (functions/exact.py) keep the aggregate
    order-independent, so streaming results are bit-equal to batch.
    """
    return (
        events.withWatermark("ts_event", watermark)
        .groupBy(F.window("ts_event", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # NB: no countDistinct — distinct aggregates are unsupported
            # in streaming; approx_count_distinct is the streaming path
            # and exact distincts belong to the batch oracle.
            F.sum(dec("value", 2, 12)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time sessionization via native session windows — the
    stateful-streaming counterpart of the reference's string-encoded
    sessions (merged by Spark's session-window state store)."""
    return (
        events.withWatermark("ts_event", watermark)
        .groupBy(F.session_window("ts_event", gap).alias("sess"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 2, 12)).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("sess.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("sess.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def write_stream_to_trusted(
    df: DataFrame, trusted_dir: str, checkpoint_dir: str
):
    """foreachBatch partitioned-parquet sink, idempotent per micro-batch:
    batch N owns the ``batch_id=N`` subtree and OVERWRITES it, so a
    micro-batch that partially writes and is checkpoint-retried replaces
    its own output instead of re-appending — checkpointed offsets +
    idempotent writes = end-to-end exactly-once (a bare
    ``mode('append')`` here would silently be at-least-once). Readers
    of ``trusted_dir`` see batch_id as one more Hive partition column.
    The streaming twin of RawToTrustedProcessor._load."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "ingestion_date", F.date_format("ts_event", "yyyy-MM-dd")
            )
            .write.mode("overwrite")
            .partitionBy("ingestion_date")
            .parquet(f"{trusted_dir}/batch_id={batch_id}")
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_parquet(
    result: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    mode: str = "update",
    timeout_s: int = 300,
    shuffle_partitions: int | None = None,
    checkpoint_file_checksum: bool | None = None,
) -> None:
    """Run a streaming aggregation to parquet via foreachBatch with
    availableNow, blocking until drained.

    ``mode='update'`` emits every in-flight aggregate per micro-batch
    (right for tumbling windows drained in one availableNow pass).
    Session windows only support append: emitted once the watermark
    finalizes them — re-run against the same checkpoint to flush (the
    restart resumes the checkpointed watermark over an empty batch).

    One micro-batch per update-mode drain: unless the plan holds a
    user-defined stateful operator (``FlatMapGroupsWithState``,
    ``transformWithState`` and their pandas forms), an update-mode drain
    runs without Spark's no-data batch. That batch only evicts expired
    state and emits nothing in update mode; eviction is deferred to the
    next drain's data batch, under the same watermark, so state holds
    at most one drain's expired windows longer. Plans with such an
    operator keep the no-data batches because their timeouts and timers
    fire in them; append and complete mode keep them because their rows
    are emitted on eviction. See ``_drain.needs_no_data_batches``.

    Late rows: a drain's data batch filters late rows against the
    watermark of the batch before it (Spark ≥ 3.4), which is now the
    previous drain's data batch. So a row that arrives one drain late,
    and whose window is still in state, is counted, and the row emitted
    for that window carries its exact cumulative count. A row older
    than the watermark from two drains back is still dropped. This path
    never drops a row that a drain with no-data batches keeps.

    Each micro-batch overwrites its own ``batch_id=N`` subtree, making
    the sink idempotent under checkpoint retries (exactly-once, not
    at-least-once); readers see batch_id as a partition column.

    ``shuffle_partitions`` sets this stream's STATE partition count
    (frozen at the first checkpoint — same contract and sizing rule as
    ``run_dedup_stream``: expected distinct-key volume, not the
    session's core count; each micro-batch pays one state commit per
    partition). Restored after the drain; None keeps the session value.

    ``checkpoint_file_checksum`` toggles the per-checkpoint-file ``.crc``
    sibling writes for this drain (restored after) — same contract and
    rationale as ``run_dedup_stream``: off is right ONLY for per-run
    scratch checkpoints; keep the default for any checkpoint that must
    survive a restart.

    Raises ``TimeoutError`` when the drain does not finish within
    ``timeout_s``; the query is stopped first.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    with drain_confs(
        result,
        mode,
        shuffle_partitions=shuffle_partitions,
        checkpoint_file_checksum=checkpoint_file_checksum,
    ):
        q = (
            result.writeStream.outputMode(mode)
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q, timeout_s)


def read_update_sink(spark: SparkSession, out_dir: str, key_cols: list[str]) -> DataFrame:
    """Correct reader for an UPDATE-mode foreachBatch sink: when a
    stream runs more than one micro-batch, an aggregate key updated in a
    later batch exists in BOTH its old ``batch_id=N`` partition and the
    new one — a naive ``read.parquet(out_dir)`` double-counts it. This
    keeps the LATEST batch's row per key (window by key, max batch_id).

    Contract: assumes each key emits AT MOST ONE row per batch (true of
    windowed/keyed aggregates in update mode). For multi-row-per-key
    emissions — e.g. the streaming heavy-hitter MG summaries, where one
    shard emits its whole candidate set — this reader silently discards
    rows; filter to the key's max batch_id instead.

    One shuffle on the key set; at scale, run ``compact_update_sink``
    periodically instead of re-winnowing ever-more batch partitions per
    read (the batch_id partition column means old batches prune away
    after compaction).
    The availableNow driver queries dodge this by draining in a single
    batch (or emitting disjoint keys per batch, as the dedup sink does)
    — this reader is the general contract for long-running update-mode
    sinks.

    ``run_stream_to_parquet`` writes one batch per update-mode drain
    (no no-data batch), so each drain adds one ``batch_id`` partition,
    and a window's expired state is evicted in the next drain's batch.
    A row arriving one drain late into a window still in state makes
    that window re-emit with its exact cumulative count in the new
    batch, so this reader returns the batch recompute over every row the
    stream kept."""
    from pyspark.sql.window import Window

    df = spark.read.option("basePath", out_dir).parquet(out_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def compact_update_sink(
    spark: SparkSession,
    out_dir: str,
    key_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact an update-mode foreachBatch sink: winnow once to the
    latest row per key (exactly ``read_update_sink``'s view) and rewrite
    the sink with superseded rows — and their now-empty ``batch_id=N``
    partitions — dropped.

    Rows KEEP their original batch_id, so ``read_update_sink`` returns a
    bit-identical frame before and after compaction, and a stream
    resumed from its checkpoint (whose batch counter only grows) slots
    new ``batch_id`` partitions above the surviving ones. The rewrite
    goes through the same crash-safe staged swap as
    ``writers.compact_parquet`` — readers racing the compaction see the
    old sink or the new one, never a mix.

    Guards: local paths only (the pathlib bookkeeping silently sees an
    empty filesystem on ``s3://`` — route remote sinks through
    ``pipeline.lake`` staging), and update-mode sinks only — a sink with
    >1 row per (key, batch_id), e.g. the Misra-Gries SUMMARY sink that
    ``read_mg_sink`` owns, would be permanently winnowed down to one
    arbitrary row per key, so that shape raises instead of compacting.

    Returns ``{"files_before", "files_after", "rows"}``.
    """
    import math
    import uuid

    from ..pipeline.writers import _staged_swap, require_local_path

    root = require_local_path(out_dir, "compact_update_sink")
    part_files = [p for p in root.rglob("*.parquet") if p.is_file()]
    total_bytes = sum(p.stat().st_size for p in part_files)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    # Persist the raw sink ONCE: the dup guard, repartitionByRange's
    # range-sampling job, and the rewrite would otherwise each re-scan
    # the sink from disk (3× read for a maintenance op whose input is
    # the largest thing it touches).
    df = spark.read.option("basePath", out_dir).parquet(out_dir).persist()
    try:
        dup = (
            df.groupBy(*key_cols, "batch_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"compact_update_sink: {out_dir!r} has multiple rows per "
                f"({', '.join(key_cols)}, batch_id) — this is a summary-style "
                "sink (e.g. Misra-Gries, read via read_mg_sink), not an "
                "update-mode sink; compacting it would drop summary rows"
            )

        # read_update_sink's winnow, inlined over the persisted frame.
        from pyspark.sql.window import Window

        w = Window.partitionBy(*key_cols).orderBy(F.col("batch_id").desc())
        latest = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        staging = root.parent / f".{root.name}.compact-{uuid.uuid4().hex[:8]}"
        (
            # Range-partition on (batch_id, keys): each task holds a
            # contiguous batch range, so the byte target is honored even
            # when distinct batch_ids < n_files (a plain
            # repartition(n, 'batch_id') would collapse to one file per
            # surviving batch regardless of size).
            latest.repartitionByRange(n_files, "batch_id", *key_cols)
            .sortWithinPartitions("batch_id")
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(str(staging))
        )
    finally:
        df.unpersist()
    _staged_swap(root, staging)
    after = sum(1 for p in root.rglob("*.parquet") if p.is_file())
    rows = spark.read.option("basePath", str(root)).parquet(str(root)).count()
    return {"files_before": len(part_files), "files_after": after, "rows": rows}


def run_stream_upsert(
    result: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    keys: list[str],
    timeout_s: int = 300,
    order_by: str | None = None,
) -> None:
    """Streaming keyed SCD-1 sink: each micro-batch ``merge_upsert``s
    into ONE parquet table — same-key rows replaced, new keys appended —
    so readers get latest-per-key directly, with none of the
    ``batch_id=N`` winnowing the plain update-mode sink needs
    (``read_update_sink``) and no unbounded batch-partition growth.

    Exactly-once under checkpoint retries because the merge is
    idempotent: replaying batch N merges the same rows into a table
    that already reflects them, converging to the same state (batch 0
    bootstraps the table through the same staged write + rename as
    ``merge_upsert``, so a crash mid-bootstrap never leaves a
    half-written target — readers see nothing or the full table).
    Local paths only (loud ValueError otherwise): the existence check
    and staged renames are pathlib, which on ``s3://`` would silently
    report "missing" every batch and overwrite instead of merging;
    remote targets go through ``pipeline.lake`` staging. Each batch
    costs one
    key-anti-join + staged-swap rewrite of the target (or its touched
    partitions) — right for modest aggregate tables updated by a
    stream; for corpus-scale targets keep the plain batch_id sink and
    compact instead. Duplicate keys within a batch follow
    ``merge_upsert``'s deterministic policy (round 18): conflicting
    same-key rows RAISE unless ``order_by=`` names a non-key column
    (greatest wins) — update-mode keyed aggregates emit one row per
    key per batch, so a well-formed upstream never trips it. The
    bootstrap batch applies the SAME policy (shared
    ``resolve_update_duplicates``), so batch 0 and batch N obey one
    contract.

    Drains follow ``run_stream_to_parquet``'s rule: no no-data batch
    unless the plan holds a user-defined stateful operator (this sink
    skipped the empty batch anyway, but still paid for running it), and
    ``TimeoutError`` once ``timeout_s`` passes."""
    import uuid

    from ..pipeline.writers import (
        merge_upsert,
        require_local_path,
        resolve_update_duplicates,
    )

    root = require_local_path(target_path, "run_stream_upsert")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist: merge_upsert runs several actions over the batch
        # frame, which would otherwise re-execute its plan each time.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            if not root.exists():
                # Bootstrap through the same staged-write + rename dance
                # as merge_upsert/compact_parquet: a crash mid-write
                # leaves only the hidden staging dir, never a partial
                # target. A crashed earlier bootstrap's .boot-* dir is
                # reclaimed here (the replayed batch rewrites the same
                # rows, so dropping stale staging is always safe).
                import shutil

                if root.parent.exists():
                    for stale in root.parent.glob(f".{root.name}.boot-*"):
                        shutil.rmtree(stale, ignore_errors=True)
                staging = root.parent / f".{root.name}.boot-{uuid.uuid4().hex[:8]}"
                resolve_update_duplicates(
                    batch_df, tuple(keys), order_by
                ).write.mode("overwrite").parquet(str(staging))
                root.parent.mkdir(parents=True, exist_ok=True)
                staging.rename(root)
            else:
                # str(root), not target_path: require_local_path
                # normalized a file:// URI to a plain path — the raw
                # URI would reach merge_upsert's pathlib bookkeeping as
                # a relative 'file:/...' path and rename into nowhere.
                merge_upsert(
                    batch_df.sparkSession, str(root), batch_df, tuple(keys),
                    order_by=order_by,
                )
        finally:
            batch_df.unpersist()

    with drain_confs(result, "update"):
        q = (
            result.writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q, timeout_s)


def enriched_events_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream joins the (batch) dimension frame — the streaming analog of
    the fact⋈dim rollups in the batch workload.

    Scale semantics worth knowing: Spark re-evaluates the STATIC side's
    plan per micro-batch (so a dim read from parquet picks up new files
    between batches — slowly-changing dims work without restarts), and
    a dim under the broadcast threshold ships as a broadcast join with
    ZERO stream-side shuffle (no explicit hint here — an unbounded
    caller-supplied dim must be allowed to fall back to a shuffle join
    rather than OOM the driver, the same rule the batch operators
    follow). A left join keeps unmatched events (dimension gaps must
    not drop facts); stream-static joins need no watermark because the
    static side holds no streaming state."""
    return events.join(dim, on, how)


def click_view_interval_join(
    clicks: DataFrame, views: DataFrame, max_gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: each click matched to the same user's
    view events in the preceding ``max_gap`` (event-time interval
    condition). Both sides are watermarked so Spark can bound the join
    state: a buffered view can be dropped once the click-side watermark
    passes view.ts + max_gap — without the interval bound the state
    would grow forever (the stream-stream analog of the batch theta
    join R10)."""
    from .stream_join import view_click_attribution

    return view_click_attribution(
        clicks, views, horizon=max_gap, watermark=watermark
    ).select(
        "user_id",
        "click_id",
        "view_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )


def run_pit_enriched_stream(
    facts: DataFrame,
    dim_path: str | None,
    out_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    ts_col: str = "ts_us",
    how: str = "left",
    dim_cols: tuple[str, ...] = ("status",),
    timeout_s: int = 300,
    dim_table: str | None = None,
) -> None:
    """Streaming point-in-time enrichment against the LIVE SCD-2
    dimension (VERDICT r13 #2): each micro-batch of the fact stream
    joins the history row valid at its own timestamp from the
    dimension table that ``run_scd2_upsert_stream`` maintains at
    ``dim_path`` — the composition of the Type-2 sink and the batch
    PIT lookup (``queries.reshape.scd2_pit_join``; same equi-join on
    the key with the interval predicate as a residual).

    The dimension is RE-READ inside each batch (a fresh
    ``spark.read.parquet``): the sink's staged-swap replaces the whole
    directory, so a file index resolved once at stream start would go
    stale — and would pin one validity snapshot forever. Re-reading
    per batch gives the natural live semantics: a dimension update
    that lands mid-stream is visible to every LATER batch, while rows
    already enriched by EARLIER batches keep the intervals that were
    current when they were processed (test-pinned) — exactly how a
    fact table loaded incrementally against a maintained dimension
    behaves in a warehouse. Re-process old batches to re-enrich.

    Scale: the dimension is keys × change-rate bounded; under
    ``spark.sql.autoBroadcastJoinThreshold`` the per-batch join
    broadcasts with zero stream-side shuffle, above it it
    hash-shuffles on the key — no hint forced here, the same
    let-it-fall-back rule as ``enriched_events_stream``. State: none
    (stream-static joins hold no streaming state; no watermark
    needed). The sink is the idempotent ``batch_id=N``-overwrite
    parquet layout of ``run_stream_to_parquet``.

    PAST-broadcast dimensions (VERDICT r14 #4 — SCALE.md named the
    per-batch re-shuffle of a too-big-to-broadcast dimension as the
    number to watch): pass ``dim_table`` instead of ``dim_path`` — a
    catalog table written BUCKETED on the key
    (``catalog_ops.save_bucketed_table(dim, name, [key], n,
    sort_cols=[key])``, refreshed by the dimension-maintenance cron,
    not per batch). The bucketed scan already satisfies the join's
    hash distribution, so per batch ONLY the fact side exchanges —
    the dimension is never re-shuffled, plan-pinned in
    tests/test_plans.py. ``spark.table`` re-resolves the catalog
    table per micro-batch, so a refreshed dimension is visible to
    later batches exactly like the parquet re-read."""
    if (dim_path is None) == (dim_table is None):
        raise ValueError(
            "run_pit_enriched_stream: pass exactly one of dim_path "
            "(parquet dir, re-read per batch) or dim_table (catalog "
            "table, bucketed for a shuffle-free dimension side)"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..queries.reshape import scd2_pit_join

        spark = batch_df.sparkSession
        dim = (
            spark.table(dim_table)
            if dim_table is not None
            else spark.read.parquet(dim_path)
        )
        scd2_pit_join(
            batch_df, dim, key=key, ts_col=ts_col, how=how, dim_cols=dim_cols
        ).write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    q = (
        facts.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, timeout_s)


# object-store swap namespace for the bucketed SCD-2 sink (see
# pipeline/object_swap.py for the manifest protocol these feed)
SCD2_MANIFEST_PREFIX = ".scd2-manifest-"
SCD2_STAGED_PREFIX = ".scd2-"
SCD2_STAGE_DIR_PREFIX = ".scd2stage-"


def _scd2_is_local(target_path: str, filesystem) -> bool:
    """True when the dimension lives on the plain local filesystem —
    the pathlib fast path every pre-r16 test pins byte-for-byte."""
    scheme = target_path.split("://", 1)[0] if "://" in target_path else ""
    return filesystem is None and scheme in ("", "file")


def recover_scd2_object_swap(target_path: str, filesystem=None) -> bool:
    """Crash recovery for the OBJECT-STORE bucketed sink's manifest
    swap (the store-agnostic twin of ``_recover_scd2_buckets``): replay
    any committed ``.scd2-manifest-*`` the crash left, sweep
    pre-manifest ``.scd2-*`` staged files / ``.scd2stage-*`` Spark
    staging dirs (token-validated — foreign dot-files are skipped,
    never destroyed). Run at every remote batch's entry and at
    ``scd2_forget_key``/``verify_takedown`` entry on remote
    dimensions."""
    from ..pipeline.object_swap import recover_object_swap

    return recover_object_swap(
        target_path,
        filesystem,
        manifest_prefix=SCD2_MANIFEST_PREFIX,
        staged_file_prefix=SCD2_STAGED_PREFIX,
        stage_dir_prefix=SCD2_STAGE_DIR_PREFIX,
    )


def scd2_forgotten_keys(target_path: str, filesystem=None) -> list:
    """Union of every forget-tombstone's keys for the SCD-2 dimension
    at ``target_path``, sorted (ints before strings). Tombstones are
    sibling dot-files ``.<name>.forget-<token>.json`` NEXT TO the
    dimension dir — inside it they would not survive the full sink's
    staged swap (which replaces the whole dir every batch) and a
    visible name would break ``spark.read.parquet``. KB-scale by the
    takedown contract; permanent, like the fuzzy store's (a checkpoint
    reset can replay arbitrarily old change batches, so there is no
    safe retirement horizon — deleting the file is the explicit
    re-consent path). Reads through the ``pyarrow.fs`` seam, so an
    S3-rooted dimension's tombstones resolve through the same call
    (VERDICT r15 #1)."""
    import json

    import pyarrow.fs as pafs

    from ..pipeline.writers import _pafs_base

    fs, base = _pafs_base(target_path, filesystem)
    parent, _, name = base.rpartition("/")
    if not parent:
        raise ValueError(
            f"SCD-2 dimension {target_path!r} sits at the store root — "
            f"forget tombstones live in the PARENT prefix; nest the "
            f"dimension one level down"
        )
    prefix = f".{name}.forget-"
    keys: set = set()
    try:
        infos = fs.get_file_info(pafs.FileSelector(parent, recursive=False))
    except (FileNotFoundError, OSError):
        return []
    for i in sorted(infos, key=lambda x: x.path):
        n = i.base_name
        if (
            i.type == pafs.FileType.File
            and n.startswith(prefix)
            and n.endswith(".json")
        ):
            with fs.open_input_stream(i.path) as f:
                for k in json.loads(f.read().decode())["keys"]:
                    keys.add(k)
    return sorted(keys, key=lambda x: (isinstance(x, str), x))


def scd2_forget_key(spark, target_path: str, keys, filesystem=None) -> dict:
    """Takedown of a subject's ENTIRE SCD-2 history (VERDICT r14 #6):
    erasure isn't complete while the dimension retains the key's status
    intervals. Three layers, committed in takedown-safe order:

    0. Crashed-swap RECOVERY first (ADVICE r15 #1): a prior sink batch
       that died between its bucket renames leaves the subject's rows
       in a stranded ``.old-bucket=*`` trash dir (local) or an
       unreplayed swap manifest (object store) — invisible to the hit
       scan below, yet restored by the NEXT sink batch, physically
       resurrecting a "forgotten" subject. Healing before the
       tombstone/delete closes that window on both layouts
       (``recover_staged_swap`` + ``_recover_scd2_buckets`` locally,
       ``recover_scd2_object_swap`` remotely — the same
       recovery-before-measurement rule as ``delete_from_ivfpq_index``
       and ``remove_docs``).
    1. A forget tombstone (staged ``.tmp-`` + atomic rename) lands
       next: from this instant both SCD-2 sinks drop the keys from
       every future batch — including a REPLAYED change wave after a
       checkpoint reset, which would otherwise resurrect the history
       from the change log (the exact failure the fuzzy store's
       permanent tombstone prevents for documents).
    2. ``delete_where(user_id IN keys)`` physically removes the rows —
       on the bucketed layout this rewrites only the keys' hash
       buckets (pinned byte-identical elsewhere by
       ``test_delete_where_forgets_key_in_bucketed_scd2_dimension``);
       PIT lookups then return NULL for the subject, the left-join
       contract for dimension gaps.

    Keys may be ints or strings (``Column.isin`` literals — the same
    injection-safe shape as the cascade's table predicates). Wired as
    the fourth ``cascade_takedown`` surface. ``filesystem`` is the
    object-store seam (VERDICT r15 #1): with it (or an ``s3://`` URI)
    the tombstone write, the recovery, and the bucket-pruned
    ``delete_where`` all run through ``pyarrow.fs``, so a DSR against
    an S3-rooted lake erases the dimension with the same call that
    erases its tables. Returns ``{"requested", "rows_deleted",
    "files_rewritten", "tombstone"}``."""
    import json
    import uuid

    from ..pipeline.writers import (
        _fs_exists,
        _pafs_base,
        delete_where,
        recover_staged_swap,
        require_local_path,
    )

    ks = sorted(
        {k if isinstance(k, str) else int(k) for k in keys},
        key=lambda x: (isinstance(x, str), x),
    )
    if not ks:
        raise ValueError("scd2_forget_key: empty key list")
    is_local = _scd2_is_local(target_path, filesystem)
    fs, base = _pafs_base(target_path, filesystem)
    if is_local:
        root = require_local_path(target_path, "scd2_forget_key")
        recover_staged_swap(str(root))
        if not root.exists():
            raise FileNotFoundError(f"no SCD-2 dimension at {target_path}")
        _recover_scd2_buckets(root)
    else:
        recover_scd2_object_swap(target_path, filesystem)
        if not _fs_exists(fs, base):
            raise FileNotFoundError(f"no SCD-2 dimension at {target_path}")
    token = uuid.uuid4().hex[:12]
    parent, _, name = base.rpartition("/")
    if not parent:
        raise ValueError(
            f"SCD-2 dimension {target_path!r} sits at the store root — "
            f"forget tombstones live in the PARENT prefix; nest the "
            f"dimension one level down"
        )
    tomb = f".{name}.forget-{token}.json"
    staging = f"{parent}/.tmp-forget-{token}"
    with fs.open_output_stream(staging) as oh:
        oh.write(json.dumps({"keys": ks}).encode())
    fs.move(staging, f"{parent}/{tomb}")
    # str(root), not target_path, in local mode: a file:// URI reaches
    # delete_where's URI branch otherwise (correct but needlessly
    # different bookkeeping from the pre-seam behavior tests pin)
    out = delete_where(
        spark,
        str(root) if is_local else target_path,
        F.col("user_id").isin(ks),
        filesystem=filesystem,
    )
    return {
        "requested": len(ks),
        "rows_deleted": out["rows_deleted"],
        "files_rewritten": out["files_rewritten"],
        "tombstone": tomb,
    }


def _drop_forgotten(
    batch_df: DataFrame, target_path: str, filesystem=None
) -> DataFrame:
    """Apply the standing forget tombstones to a change batch — the
    sink-side half of ``scd2_forget_key``'s replay guarantee. One
    driver-side KB read per micro-batch; a literal NOT-IN filter, no
    shuffle, no state."""
    forgotten = scd2_forgotten_keys(target_path, filesystem)
    if not forgotten:
        return batch_df
    # NULL-keyed rows must pass through unchanged: ~isin(NULL) is NULL
    # and a bare filter would start silently dropping them the moment
    # any unrelated takedown ran (dirty-data behavior must not depend
    # on takedown history)
    return batch_df.filter(
        F.col("user_id").isNull() | ~F.col("user_id").isin(forgotten)
    )


def run_scd2_upsert_stream(
    changes: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> None:
    """Streaming SCD TYPE-2 sink: each micro-batch of change rows
    (``user_id, status, ts_us, change_id``) merges into one parquet
    dimension table as validity-interval history — the Type-2 sibling
    of ``run_stream_upsert`` (which keeps latest-per-key only).
    Per batch: ``scd2_apply_changes`` rebuilds AFFECTED keys' history
    from their run starts ∪ the batch and passes untouched keys through
    verbatim, then the result swaps in via the same crash-safe staged
    rename as ``merge_upsert`` (readers see the old or the new table,
    never a mix; batch 0 bootstraps through a staged ``.boot-*``
    rename).

    Exactly-once under checkpoint retries because the merge is
    IDEMPOTENT: a replayed change re-enters the affected key's log,
    lands at its original ts, and collapses into the identical interval
    set — replaying any suffix of batches (even ALL of them, fresh
    checkpoint) converges to the same table, test-pinned. Out-of-order
    waves are equally safe when each wave is a time-contiguous block
    landing adjacent to the span already ingested — append or full
    backfill, the shape file landings have: a backfill wave splices
    correctly because affected keys re-derive rather than patch (the
    case the SCD-1 sink silently gets wrong — latest-write wins
    there). The precise convergence contract — and the two
    interleaving shapes run starts cannot replay — is documented on
    ``scd2_apply_changes`` and hypothesis-pinned.

    Batches must carry at most one change per (user_id, ts_us); the
    sink drops within-batch duplicates on that key, matching the bulk
    builder's ordering contract. Cost: one broadcast anti-join + the
    affected keys' window rebuild + a full staged rewrite of the
    target — right for dimension tables (users, accounts, catalog
    items), which are modest next to fact/corpus tables. For a
    dimension too large to rewrite per batch, use
    ``run_scd2_upsert_stream_bucketed`` (round 14): same apply
    algebra, hash-bucketed layout, per-batch rewrite bounded by the
    buckets the batch's keys touch — with the measured crossover rule
    in SCALE.md (scattered batches over SMALL dimensions still favor
    this full swap; the bucketed form wins on bytes as soon as the
    dimension outgrows its per-bucket constants).
    """
    import shutil
    import uuid

    from ..pipeline.writers import (
        _staged_swap,
        recover_staged_swap,
        require_local_path,
    )
    from ..queries.reshape import scd2_apply_changes, scd2_from_log

    root = require_local_path(target_path, "run_scd2_upsert_stream")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # a hard crash inside a previous batch's _staged_swap leaves
        # the dimension under its .old-* backup name; restore it FIRST
        # or the root-missing check below would silently re-bootstrap
        # the table from this one batch, losing all history
        recover_staged_swap(str(root))
        # standing takedowns next: a replayed change wave must not
        # resurrect a forgotten key's history (scd2_forget_key)
        batch_df = _drop_forgotten(batch_df, str(root))
        batch_df = batch_df.dropDuplicates(["user_id", "ts_us"])
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            spark = batch_df.sparkSession
            if not root.exists():
                if root.parent.exists():
                    for stale in root.parent.glob(f".{root.name}.boot-*"):
                        shutil.rmtree(stale, ignore_errors=True)
                staging = root.parent / f".{root.name}.boot-{uuid.uuid4().hex[:8]}"
                scd2_from_log(batch_df, "change_id").write.mode(
                    "overwrite"
                ).parquet(str(staging))
                root.parent.mkdir(parents=True, exist_ok=True)
                staging.rename(root)
            else:
                existing = spark.read.parquet(str(root))
                merged = scd2_apply_changes(existing, batch_df)
                staging = root.parent / f".{root.name}.scd2-{uuid.uuid4().hex[:8]}"
                merged.write.mode("overwrite").parquet(str(staging))
                _staged_swap(root, staging)
        finally:
            batch_df.unpersist()

    q = (
        changes.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, timeout_s)


def _recover_scd2_buckets(root) -> None:
    """Crash recovery for the bucketed sink's per-bucket swap, run at
    the top of every merge batch. The swap per bucket is (1) rename
    real → ``.old-bucket=<b>-<token>``, (2) rename staging → real,
    (3) delete the old dir; each rename is atomic, so a crash leaves
    each bucket in exactly one of three states: normal (no debris),
    old-dir present WITH a live bucket (crashed after 2 — the new
    content is live, drop the old), or old-dir present WITHOUT a live
    bucket (crashed between 1 and 2 — restore the old content; the
    checkpoint retry re-merges the batch into it, converging by the
    apply's idempotence). Stale ``.stage-*`` staging dirs from the
    crashed run are dropped — the retry rewrites the same rows."""
    import shutil

    for trash in root.glob(".old-bucket=*"):
        bucket_dir = root / trash.name[len(".old-") :].rsplit("-", 1)[0]
        if bucket_dir.exists():
            shutil.rmtree(trash, ignore_errors=True)
        else:
            trash.rename(bucket_dir)
    if root.parent.exists():
        for stale in root.parent.glob(f".{root.name}.stage-*"):
            shutil.rmtree(stale, ignore_errors=True)


def _scd2_remote_write_batch(
    batch_df: DataFrame,
    target_path: str,
    filesystem,
    n_buckets: int,
    bucket_expr,
    mode: str,
    full_fraction: float,
    full_rewrite_max_bytes: int,
    plan_log: list | None,
    batch_id: int,
) -> None:
    """One micro-batch of the bucketed SCD-2 sink against an
    OBJECT-STORE dimension (VERDICT r15 #1): same merge algebra and
    same bucket-pruned rewrite shape as the local fast path, but the
    per-bucket commit is the manifest-driven staged file swap of
    ``pipeline/object_swap.py`` — object stores have no atomic
    directory rename (pyarrow's S3 move works for files only,
    measured), so "swap bucket b" becomes: upload b's new files under
    hidden ``.scd2-*`` names, commit one ``.scd2-manifest-*`` for the
    whole batch, promote staged → final, delete b's old files. A crash
    anywhere replays or sweeps to convergence at the next batch's
    entry (``recover_scd2_object_swap``), and untouched buckets'
    objects are never rewritten (ETag-pinned in the moto test).

    Spark I/O routes like ``delete_where``'s: an ``s3://`` URI with no
    injected filesystem reads/writes through Spark's own connector
    (``s3a://`` — the cluster path, distributed end to end); an
    injected ``filesystem=`` bridges Spark through a driver-local
    mirror of ONLY the affected buckets' files (the hermetic-test and
    connector-less configuration; O(affected buckets) driver I/O, not
    O(dimension))."""
    import shutil
    import tempfile
    import uuid
    from pathlib import Path

    from ..pipeline.object_swap import (
        commit_object_swap,
        download_rels,
        stage_remote_tree,
        upload_tree_staged,
    )
    from ..pipeline.writers import (
        _pafs_base,
        _recursive_infos,
        _visible_parquet_files,
    )
    from ..queries.reshape import scd2_apply_changes, scd2_from_log

    spark = batch_df.sparkSession
    fs, base = _pafs_base(target_path, filesystem)
    recover_scd2_object_swap(target_path, filesystem)
    batch_df = _drop_forgotten(batch_df, target_path, filesystem)
    batch_df = batch_df.dropDuplicates(["user_id", "ts_us"])
    batch_df.persist()
    scratch = Path(tempfile.mkdtemp(prefix="scd2-remote-"))
    try:
        if batch_df.isEmpty():
            return
        infos = _recursive_infos(fs, base)
        visible = _visible_parquet_files(fs, base, infos)
        sizes = {i.path[len(base) + 1 :]: i.size for i in infos if i.size}
        token = uuid.uuid4().hex[:12]
        bridge = filesystem is not None
        if not bridge:
            scheme, rest = target_path.split("://", 1)
            readable_root = (
                f"s3a://{rest}" if scheme in ("s3", "s3n") else target_path
            )

        def read_rels(rels):
            # frame over base-relative parquet files, bucket partition
            # column attached from the Hive path
            if not bridge:
                return spark.read.option("basePath", readable_root).parquet(
                    *[f"{readable_root}/{r}" for r in rels]
                )
            mirror = scratch / f"mirror-{uuid.uuid4().hex[:6]}"
            download_rels(fs, base, rels, mirror)
            return spark.read.option("basePath", str(mirror)).parquet(
                str(mirror)
            )

        def stage_merged(merged) -> dict[int, list[tuple[str, str]]]:
            # write the merged frame clustered one-file-per-bucket (the
            # local sink's small-files rule), land every file under its
            # hidden staged name, return {bucket: [(staged, final)]}
            clustered = merged.withColumn("bucket", bucket_expr).repartition(
                F.col("bucket")
            )
            if bridge:
                local_out = scratch / "out"
                clustered.write.mode("overwrite").partitionBy(
                    "bucket"
                ).parquet(str(local_out))
                pairs = upload_tree_staged(
                    fs, base, local_out, token, SCD2_STAGED_PREFIX
                )
            else:
                stage_rel = f"{SCD2_STAGE_DIR_PREFIX}{token}"
                clustered.write.mode("overwrite").partitionBy(
                    "bucket"
                ).parquet(f"{readable_root}/{stage_rel}")
                pairs = stage_remote_tree(
                    fs, base, stage_rel, token, SCD2_STAGED_PREFIX
                )
            out: dict[int, list[tuple[str, str]]] = {}
            for s, f_ in pairs:
                b = int(s.split("/", 1)[0].split("=", 1)[1])
                out.setdefault(b, []).append((s, f_))
            return out

        def bucket_of(rel: str) -> int:
            head = rel.split("/", 1)[0]
            if "/" not in rel or not head.startswith("bucket="):
                raise ValueError(
                    f"run_scd2_upsert_stream_bucketed: {target_path!r} is "
                    f"not a bucket-partitioned SCD-2 layout (found {rel!r})"
                )
            return int(head.split("=", 1)[1])

        if not visible:  # bootstrap
            by_bucket = stage_merged(scd2_from_log(batch_df, "change_id"))
            entries = [
                {
                    "bucket": b,
                    "old": [],
                    "staged": [s for s, _ in prs],
                    "final": [f for _, f in prs],
                }
                for b, prs in sorted(by_bucket.items())
            ]
            commit_object_swap(fs, base, entries, token, SCD2_MANIFEST_PREFIX)
            return

        vis_by_bucket: dict[int, list[str]] = {}
        for r in visible:
            vis_by_bucket.setdefault(bucket_of(r), []).append(r)
        buckets = sorted(
            int(r["b"])
            for r in batch_df.select(bucket_expr.alias("b"))
            .distinct()
            .collect()
        )
        decide = mode
        dim_bytes = None
        if mode == "auto":
            dim_bytes = sum(sizes.get(r, 0) for r in visible)
            decide = (
                "full"
                if (
                    len(buckets) >= full_fraction * n_buckets
                    and dim_bytes <= full_rewrite_max_bytes
                )
                else "bucketed"
            )
        if plan_log is not None:
            plan_log.append(
                {
                    "batch_id": int(batch_id),
                    "mode": decide,
                    "touched_buckets": len(buckets),
                    "n_buckets": int(n_buckets),
                    "dim_bytes": dim_bytes,
                }
            )
        if decide == "full":
            existing = read_rels(visible).drop("bucket")
            by_bucket = stage_merged(scd2_apply_changes(existing, batch_df))
            affected = sorted(set(by_bucket) | set(vis_by_bucket))
        else:
            live = [b for b in buckets if b in vis_by_bucket]
            if live:
                existing = read_rels(
                    [r for b in live for r in vis_by_bucket[b]]
                ).drop("bucket")
            else:  # every affected bucket is new — schema-only frame
                existing = read_rels(visible[:1]).drop("bucket").limit(0)
            by_bucket = stage_merged(scd2_apply_changes(existing, batch_df))
            affected = sorted(set(buckets) | set(by_bucket))
        entries = [
            {
                "bucket": b,
                "old": sorted(vis_by_bucket.get(b, [])),
                "staged": [s for s, _ in by_bucket.get(b, [])],
                "final": [f for _, f in by_bucket.get(b, [])],
            }
            for b in affected
        ]
        commit_object_swap(fs, base, entries, token, SCD2_MANIFEST_PREFIX)
    finally:
        batch_df.unpersist()
        shutil.rmtree(scratch, ignore_errors=True)


def run_scd2_upsert_stream_bucketed(
    changes: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    timeout_s: int = 300,
    mode: str = "auto",
    full_fraction: float = 0.5,
    full_rewrite_max_bytes: int = 256 * 1024 * 1024,
    plan_log: list | None = None,
    filesystem=None,
) -> None:
    """The SCALE-SAFE Type-2 sink (VERDICT r13 #7): same merge algebra
    as ``run_scd2_upsert_stream``, but the dimension is stored
    partitioned by ``bucket = pmod(hash(user_id), n_buckets)`` and a
    batch rewrites ONLY the buckets containing affected keys — the
    write amplification of the full-table staged swap drops from
    O(dimension) to O(dimension × touched-buckets / n_buckets) per
    batch. An untouched bucket's files are not opened, not rewritten,
    byte-identical after the batch (test-pinned). Size ``n_buckets``
    so one bucket ≈ a comfortable rewrite unit (e.g. 10⁹ keys × 64 B
    of open rows / 4096 buckets ≈ 16 MB each); the hash is Spark's
    Murmur3 ``hash()`` — deterministic across sessions, so a key's
    bucket never moves.

    Per batch: the affected-bucket list is a distinct over the BATCH
    (≤ n_buckets values, collected); only those bucket partitions are
    read (pruned at the file listing via explicit dirs), the batch
    merges via ``scd2_apply_changes`` exactly as the full sink does,
    and the result swaps in per bucket — staging written first, then
    an atomic-rename dance per bucket with a recovery sweep at batch
    start (``_recover_scd2_buckets``) covering every crash window; a
    checkpoint retry converges because the merge is idempotent (the
    full sink's pinned contract, unchanged by the layout). Readers see
    ``bucket`` as one more Hive partition column — drop it, or point
    key-equi-joins at it for free co-location (the broadcast anti-join
    inside the apply and any PIT lookup both benefit from the
    bucket-pruned scan when the batch's keys are known).

    ``mode`` (VERDICT r14 #5 — the crossover rule was SCALE.md prose):
    ``"auto"`` (default) picks per batch between the bucket-pruned
    rewrite and ONE full staged swap of the whole (still-bucketed)
    layout — full wins exactly when the batch is scattered
    (touched buckets ≥ ``full_fraction`` × n_buckets, exact count, not
    an estimate) AND the dimension is small enough that one swap is
    cheap (≤ ``full_rewrite_max_bytes``); a focused batch, or any
    batch once the dimension outgrows the threshold, takes the
    bucket-pruned path. ``"bucketed"``/``"full"`` are the override
    knobs. Both paths converge bit-equal (pinned) — this is a COST
    choice, never a semantics one. ``plan_log`` (a caller list)
    receives one decision record per batch for observability/tests."""
    import shutil
    import uuid

    from ..pipeline.writers import (
        _staged_swap,
        recover_staged_swap,
        require_local_path,
    )
    from ..queries.reshape import scd2_apply_changes, scd2_from_log

    if mode not in ("auto", "bucketed", "full"):
        raise ValueError(
            f"mode must be auto/bucketed/full, got {mode!r}"
        )
    is_local = _scd2_is_local(target_path, filesystem)
    root = (
        require_local_path(target_path, "run_scd2_upsert_stream_bucketed")
        if is_local
        else None
    )
    bucket_expr = F.pmod(F.hash(F.col("user_id")), F.lit(int(n_buckets)))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not is_local:
            # object-store dimension (VERDICT r15 #1): same algebra,
            # manifest-driven per-file swap — see _scd2_remote_write_batch
            _scd2_remote_write_batch(
                batch_df,
                target_path,
                filesystem,
                n_buckets,
                bucket_expr,
                mode,
                full_fraction,
                full_rewrite_max_bytes,
                plan_log,
                batch_id,
            )
            return
        # a hard crash inside a previous batch's FULL swap leaves the
        # dimension under its .old-* backup name; restore it before the
        # root-missing check can misread the crash as a fresh table
        recover_staged_swap(str(root))
        # standing takedowns next: a replayed change wave must not
        # resurrect a forgotten key's history (scd2_forget_key)
        batch_df = _drop_forgotten(batch_df, str(root))
        batch_df = batch_df.dropDuplicates(["user_id", "ts_us"])
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            spark = batch_df.sparkSession
            if not root.exists():
                if root.parent.exists():
                    for stale in root.parent.glob(f".{root.name}.boot-*"):
                        shutil.rmtree(stale, ignore_errors=True)
                staging = root.parent / f".{root.name}.boot-{uuid.uuid4().hex[:8]}"
                # repartition on the bucket column: one task owns each
                # bucket, so a bucket dir is ONE file per rewrite — a
                # plain partitionBy would leave up to
                # spark.sql.shuffle.partitions shards per bucket (the
                # small-files tax compact_parquet exists to undo)
                scd2_from_log(batch_df, "change_id").withColumn(
                    "bucket", bucket_expr
                ).repartition(F.col("bucket")).write.mode(
                    "overwrite"
                ).partitionBy("bucket").parquet(str(staging))
                root.parent.mkdir(parents=True, exist_ok=True)
                staging.rename(root)
                return
            _recover_scd2_buckets(root)
            buckets = sorted(
                int(r["b"])
                for r in batch_df.select(bucket_expr.alias("b"))
                .distinct()
                .collect()
            )
            # Sink auto-select (VERDICT r14 #5): the measured crossover
            # rule from SCALE.md, previously prose an operator had to
            # apply by hand. A SCATTERED batch over a SMALL dimension
            # loses to one full staged swap (per-bucket read/write
            # constants dominate — the birthday effect saturates
            # touched-buckets fast: 100 uniform keys over 64 buckets
            # touch ~41); a focused batch, or ANY batch once the
            # dimension is large, wins with the bucket-pruned rewrite.
            # The touched count is exact (distinct over the batch,
            # already collected above — no birthday ESTIMATE needed at
            # decision time); dimension bytes are one local stat walk.
            decide = mode
            dim_bytes = None
            if mode == "auto":
                dim_bytes = sum(
                    p.stat().st_size
                    for p in root.rglob("*.parquet")
                    if p.is_file()
                )
                decide = (
                    "full"
                    if (
                        len(buckets) >= full_fraction * n_buckets
                        and dim_bytes <= full_rewrite_max_bytes
                    )
                    else "bucketed"
                )
            if plan_log is not None:
                plan_log.append(
                    {
                        "batch_id": int(batch_id),
                        "mode": decide,
                        "touched_buckets": len(buckets),
                        "n_buckets": int(n_buckets),
                        "dim_bytes": dim_bytes,
                    }
                )
            if decide == "full":
                existing = spark.read.parquet(str(root)).drop("bucket")
                merged = scd2_apply_changes(existing, batch_df)
                token = uuid.uuid4().hex[:8]
                staging = root.parent / f".{root.name}.stage-full-{token}"
                merged.withColumn("bucket", bucket_expr).repartition(
                    F.col("bucket")
                ).write.mode("overwrite").partitionBy("bucket").parquet(
                    str(staging)
                )
                _staged_swap(root, staging)
                return
            live = [b for b in buckets if (root / f"bucket={b}").exists()]
            if live:
                existing = (
                    spark.read.option("basePath", str(root))
                    .parquet(*[str(root / f"bucket={b}") for b in live])
                    .drop("bucket")
                )
            else:  # every affected bucket is new — schema-only frame
                existing = (
                    spark.read.parquet(str(root)).drop("bucket").limit(0)
                )
            merged = scd2_apply_changes(existing, batch_df)
            token = uuid.uuid4().hex[:8]
            staging = root.parent / f".{root.name}.stage-{token}"
            # one file per rewritten bucket (see bootstrap note)
            merged.withColumn("bucket", bucket_expr).repartition(
                F.col("bucket")
            ).write.mode("overwrite").partitionBy("bucket").parquet(
                str(staging)
            )
            for b in buckets:
                rb = root / f"bucket={b}"
                sb = staging / f"bucket={b}"
                if rb.exists():
                    rb.rename(root / f".old-bucket={b}-{token}")
                if sb.exists():
                    sb.rename(rb)
                shutil.rmtree(
                    root / f".old-bucket={b}-{token}", ignore_errors=True
                )
            shutil.rmtree(staging, ignore_errors=True)
        finally:
            batch_df.unpersist()

    q = (
        changes.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, timeout_s)
