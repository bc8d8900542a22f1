"""Shared availableNow drain for the streaming sinks.

Plain ``Trigger.AvailableNow`` queries terminate on their own once the
source drains — ``awaitTermination`` is enough. A query holding
``ProcessingTimeTimeout`` state does NOT: after the data drains it
loops "No new data but cleaning up state" batches forever, standing by
to service future timeouts. For those, drain-until-idle: once a
zero-input batch has run with no data available, the real data (and
every ALREADY-EXPIRED timeout — the engine services expired keys in
each batch, including the data batches) has been processed; stop the
query. Not-yet-expired timeouts are serviced by the next drain's
batches. The idle heuristic is deliberately conservative: under load
the engine can emit a zero-row batch BEFORE source listing finds new
files, so an idle report is only trusted after a data batch has run
(or a grace period passed).

Every drain raises ``TimeoutError`` when ``timeout_s`` passes first:
the query is stopped, and a partial sink must not pass for a result.

``drain_confs`` is the one session-conf dial of the drains: the
stream's state partition count, the checkpoint-checksum dial, and
whether the drain runs no-data batches at all (see
``needs_no_data_batches``).
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
    if mode.lower() != "update":
        return True
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _TIMER_STATE_NODES:
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


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
    and is not recorded in the checkpoint.

    Stop the query inside the block: a drain still running when the
    confs flip back must never see them change."""
    confs = {
        SHUFFLE_PARTITIONS: shuffle_partitions,
        CHECKPOINT_CRC: checkpoint_file_checksum,
        NO_DATA_BATCHES: None if needs_no_data_batches(df, mode) else False,
    }
    spark = df.sparkSession
    prior = {}
    for key, value in confs.items():
        if value is not None:
            prior[key] = spark.conf.get(key, None)
            spark.conf.set(key, str(value).lower())
    try:
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def make_pair_sink_writer(
    out_dir: str, keys: list[str] | None = None, *, skip_empty: bool
):
    """foreachBatch writer shared by the stateful-dedup sinks:
    batch-local dropDuplicates on ``keys`` when given (a near-dup pair
    can surface through several shared buckets, always in its second
    item's ONE arrival batch, so this makes pair output exactly-once;
    the exact-dedup streams emit unique rows already and pass None) +
    batch_id-keyed overwrite (idempotent under checkpoint retry).
    ``skip_empty`` is the TTL-mode policy — zero-row state-cleanup
    batches must not litter the sink; the frame is persisted around the
    two actions (emptiness probe + write) because a foreachBatch plan
    re-executes per action and the probe must not run the stateful
    operator twice."""

    def write_batch(batch_df, batch_id: int) -> None:
        out = batch_df.dropDuplicates(keys) if keys else batch_df
        if not skip_empty:
            out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
            return
        out.persist()
        try:
            if not out.isEmpty():
                out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        finally:
            out.unpersist()

    return write_batch


def drain_available_now(q, timeout_s: float, *, ttl: bool = False) -> None:
    """Block until the availableNow query ``q`` finishes its drain.
    ``ttl=False`` → plain awaitTermination; ``ttl=True`` → the
    drain-until-idle loop above, then stop. Raises ``TimeoutError``
    after stopping ``q`` when ``timeout_s`` passes first."""
    if not ttl:
        if q.awaitTermination(timeout_s):
            return
        timed_out = True
    else:
        start = time.time()
        deadline = start + timeout_s
        seen_data = timed_out = False
        while time.time() < deadline:
            if not q.isActive:
                break  # query died — surface its exception NOW, not at deadline
            lp = q.lastProgress
            if lp is not None and lp["numInputRows"] > 0:
                seen_data = True
            idle = (
                lp is not None
                and lp["numInputRows"] == 0
                and not q.status["isDataAvailable"]
            )
            if idle and (seen_data or time.time() - start > 10):
                break
            time.sleep(0.2)
        else:
            timed_out = True  # deadline passed before idle or inactive
    q.stop()
    q.awaitTermination(timeout_s)
    if timed_out:
        raise TimeoutError(
            f"streaming drain {q.id} did not finish within {timeout_s} s; "
            "the query was stopped and its sink is partial"
        )
