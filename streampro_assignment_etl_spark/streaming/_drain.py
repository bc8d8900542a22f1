"""The one seam every availableNow stream goes through: read, start,
conf dial, drain, timeout.

``read_landing`` is the typed landing-dir reader (a streaming source
must never infer its schema: inference re-scans the directory and can
drift between micro-batches). ``drain_stream`` starts one foreachBatch
query with an availableNow trigger inside ``drain_confs`` — the one
session-conf dial of the drains: the stream's state partition count,
the checkpoint-checksum dial, and whether the drain runs no-data
batches at all (``needs_no_data_batches``) — then drains and stops it.

Plain ``Trigger.AvailableNow`` queries terminate on their own once the
source drains — ``awaitTermination`` is enough. A query holding a
``FlatMapGroups*WithState`` operator with a timeout does NOT: after the
data drains it loops "No new data but cleaning up state" batches
forever, standing by to service future timeouts. For those,
drain-until-idle: once a zero-input batch has run with no data
available, the real data (and every ALREADY-EXPIRED timeout — the
engine services expired keys in each batch, including the data
batches) has been processed; stop the query. Not-yet-expired timeouts
are serviced by the next drain's batches. The idle heuristic is
deliberately conservative: under load the engine can emit a zero-row
batch BEFORE source listing finds new files, so an idle report is only
trusted after a data batch has run (or a grace period passed). Such a
drain also keeps its zero-row state-cleanup batches out of the sink.
Both decisions come from one walk of the analyzed plan; no caller
passes them.

Every drain raises ``TimeoutError`` when ``timeout_s`` passes first:
the query is stopped, and a partial sink must not pass for a result.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
CHECKPOINT_CRC = "spark.sql.streaming.checkpoint.fileChecksum.enabled"  # Spark 4.1+
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"

# Logical operators whose timeouts or timers fire in no-data batches.
# TransformWithStateInPandas is the 4.0 name of TransformWithStateInPySpark.
_TIMER_STATE_NODES = frozenset({
    "FlatMapGroupsWithState",
    "FlatMapGroupsInPandasWithState",
    "TransformWithState",
    "TransformWithStateInPandas",
    "TransformWithStateInPySpark",
})


def read_landing(
    spark,
    schema,
    landing_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
):
    """Typed streaming read of the ``fmt`` files in ``landing_dir``;
    ``max_files_per_trigger`` caps each micro-batch's file intake."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(landing_dir)


def _plan_facts(df, mode: str) -> tuple[bool, bool]:
    """One walk of ``df``'s analyzed plan: (whether a drain in output
    ``mode`` needs no-data batches, whether it must drain until idle —
    a ``FlatMapGroups*WithState`` whose timeout is not NoTimeout)."""
    timers = until_idle = False
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in _TIMER_STATE_NODES:
            timers = True
            if name.startswith("FlatMapGroups"):
                until_idle |= node.timeout().toString() != "NoTimeout"
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return mode.lower() != "update" or timers, until_idle


def needs_no_data_batches(df, mode: str) -> bool:
    """Whether draining ``df`` in output ``mode`` needs Spark's no-data
    micro-batches — the extra batch Spark runs after a data batch that
    moved the watermark, only to evict expired state.

    In update mode that batch emits nothing for a streaming aggregation
    or dedup: its eviction happens in the next drain's data batch
    instead, under the same watermark, so skipping it saves one whole
    batch (state commits, a sink write, two WAL writes) per drain.
    It is kept for append and complete mode, whose rows are emitted on
    eviction, and for plans with a user-defined stateful operator, whose
    timeouts and timers fire in exactly those batches."""
    return _plan_facts(df, mode)[0]


@contextmanager
def drain_confs(
    df,
    mode: str,
    *,
    shuffle_partitions: int | None = None,
    checkpoint_file_checksum: bool | None = None,
):
    """Session confs for one drain of ``df`` in output ``mode``, put back
    on exit: a key that was set gets its prior value again, a key that
    was unset is unset again. A dial left None is neither read nor
    written — so the 4.1-only checksum conf is touched only when a
    caller asks for it. No-data batches are switched off when
    ``needs_no_data_batches`` says so; the decision is made per drain
    and is not recorded in the checkpoint. Yields whether the drain
    must run until idle, from the same plan walk.

    Stop the query inside the block: a drain still running when the
    confs flip back must never see them change."""
    no_data_batches, until_idle = _plan_facts(df, mode)
    confs = {
        SHUFFLE_PARTITIONS: shuffle_partitions,
        CHECKPOINT_CRC: checkpoint_file_checksum,
        NO_DATA_BATCHES: None if no_data_batches else False,
    }
    spark = df.sparkSession
    prior = {}
    for key, value in confs.items():
        if value is not None:
            prior[key] = spark.conf.get(key, None)
            spark.conf.set(key, str(value).lower())
    try:
        yield until_idle
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def batch_id_writer(out_dir: str, keys: list[str] | None = None):
    """foreachBatch writer: batch N overwrites its own
    ``out_dir/batch_id=N`` subtree, so a checkpoint-retried batch
    replaces its output instead of re-appending (exactly-once, not
    at-least-once); readers see batch_id as a partition column.
    ``keys`` adds a batch-local dropDuplicates — a near-dup pair can
    surface through several shared buckets, always in its second item's
    ONE arrival batch, so that makes pair output exactly-once."""

    def write_batch(batch_df, batch_id: int) -> None:
        out = batch_df.dropDuplicates(keys) if keys else batch_df
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write_batch


def skip_empty(write_batch):
    """``write_batch`` for non-empty batches only; the frame is persisted
    around it because a foreachBatch plan re-executes per action, and
    neither the emptiness probe nor the writer's own actions may run the
    batch plan (and its stateful operator) again."""

    def write_nonempty(batch_df, batch_id: int) -> None:
        batch_df.persist()
        try:
            if not batch_df.isEmpty():
                write_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return write_nonempty


def _await_idle(q, timeout_s: float) -> bool:
    """The drain-until-idle wait (module docstring): True once ``q`` is
    idle or inactive, False when ``timeout_s`` passes first."""
    start = time.time()
    seen_data = False
    while time.time() < start + timeout_s:
        if not q.isActive:
            return True  # query died — surface its exception NOW, not at deadline
        lp = q.lastProgress
        if lp is not None and lp["numInputRows"] > 0:
            seen_data = True
        idle = (
            lp is not None
            and lp["numInputRows"] == 0
            and not q.status["isDataAvailable"]
        )
        if idle and (seen_data or time.time() - start > 10):
            return True
        time.sleep(0.2)
    return False


def drain_stream(
    df,
    checkpoint_dir: str,
    write_batch,
    *,
    mode: str = "append",
    timeout_s: float = 300,
    shuffle_partitions: int | None = None,
    checkpoint_file_checksum: bool | None = None,
) -> None:
    """Drain the streaming frame ``df`` through ``write_batch`` in output
    ``mode``: start an availableNow query on ``checkpoint_dir`` inside
    ``drain_confs``, wait for the drain (plain awaitTermination, or the
    drain-until-idle loop when the plan says so), stop the query, put
    the confs back. Raises ``TimeoutError`` after stopping the query
    when ``timeout_s`` passes first."""
    with drain_confs(
        df,
        mode,
        shuffle_partitions=shuffle_partitions,
        checkpoint_file_checksum=checkpoint_file_checksum,
    ) as until_idle:
        q = (
            df.writeStream.outputMode(mode)
            .foreachBatch(skip_empty(write_batch) if until_idle else write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if until_idle:
            done = _await_idle(q, timeout_s)
        else:
            done = q.awaitTermination(timeout_s)
        q.stop()
        q.awaitTermination(timeout_s)
    if not done:
        raise TimeoutError(
            f"streaming drain {q.id} did not finish within {timeout_s} s; "
            "the query was stopped and its sink is partial"
        )
