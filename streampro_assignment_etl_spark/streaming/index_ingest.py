"""Continuously-fresh ANN index: stream embeddings into the persisted
IVF-PQ index (``operators/ann_index.py``).

The batch half of the index lifecycle (build / append / compact /
expire) assumes someone hands it embedding batches; real pipelines
ingest embeddings as a STREAM (the encoder service emits vectors as
documents arrive). This module is the glue: ``foreachBatch`` over the
embedding stream, each micro-batch landing through
``append_to_ivfpq_index`` — encoded under the RESIDENT model,
batch-linear, corpus untouched — so the served index is at most one
micro-batch behind ingest, with no rebuild in the loop.

Exactly-once under replay, by construction rather than bookkeeping:

* each micro-batch appends under ``ingest_id = <stream>-b<batch_id>``,
  and ``append_to_ivfpq_index`` OVERWRITES that subtree — a retried
  batch (foreachBatch is at-least-once) re-lands its own rows in place,
  never duplicates them;
* an ``applied/<stream>/b<batch_id>`` marker is written after the
  append commits, so a replayed batch skips the re-encode entirely.
  The marker is the cheap fast path, the subtree overwrite is the
  correctness backstop for the crash window between append and marker;
* the marker also survives COMPACTION (it lives next to the manifest,
  not inside a snapshot): if batch N committed, the index was
  compacted (folding N's subtree into ``ingest=base``), and THEN a
  restart replays batch N (its checkpoint offset never committed), the
  marker stops it from re-landing rows that compaction already folded
  — the one replay shape the overwrite alone cannot make idempotent.

Single-writer contract (fenced, see ``pipeline.object_swap.commit_epoch``):
the stream IS the index's writer while it runs — schedule compactions
and rebuilds in its maintenance windows, or accept the loud epoch
abort and retry. Scale shape: each batch costs one map-side
assign+encode over the BATCH plus one subtree write (one file per cell
touched) — run ``compact_ivfpq_index`` on the same cadence you'd run
OPTIMIZE on any streaming-ingest table, and watch
``index_occupancy_stats`` for the retrain signal.

≙ reference: none (north-star extension). Composition: ann_index.py +
the batch_id-idempotent sink discipline of events_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import ann_index
from ..pipeline.writers import _pafs_base
from ._drain import drain_stream, read_landing

APPLIED_DIR = "applied"


def _marker_path(base: str, stream_name: str, batch_id: int) -> str:
    return f"{base}/{APPLIED_DIR}/{stream_name}/b{batch_id:012d}"


def _marker_exists(path: str, stream_name: str, batch_id: int) -> bool:
    import pyarrow.fs as pafs

    fs, base = _pafs_base(path)
    info = fs.get_file_info(_marker_path(base, stream_name, batch_id))
    return info.type == pafs.FileType.File


def _write_marker(path: str, stream_name: str, batch_id: int) -> None:
    fs, base = _pafs_base(path)
    fs.create_dir(f"{base}/{APPLIED_DIR}/{stream_name}", recursive=True)
    with fs.open_output_stream(_marker_path(base, stream_name, batch_id)):
        pass  # empty file; its existence is the record


def prune_applied_markers(
    path: str, stream_name: str = "ingest", keep_last: int = 1000
) -> list[str]:
    """Marker retention: keep only the ``keep_last`` highest batch-id
    markers, delete the rest. Markers are one empty file per
    micro-batch — harmless for months, but a years-long minutely
    stream accumulates O(10⁵) listing entries. Safe bound: Spark only
    ever replays the latest uncommitted batch of a checkpoint, so any
    marker more than a handful of batches behind the newest can never
    be consulted again; ``keep_last`` is generous headroom, run it on
    the compaction cadence. Returns the deleted marker names."""
    import pyarrow.fs as pafs

    fs, base = _pafs_base(path)
    sel = pafs.FileSelector(f"{base}/{APPLIED_DIR}/{stream_name}", recursive=False)
    try:
        infos = fs.get_file_info(sel)
    except (FileNotFoundError, OSError):
        return []
    names = sorted(
        i.base_name for i in infos if i.type == pafs.FileType.File
    )
    doomed = names[:-keep_last] if keep_last > 0 else names
    for n in doomed:
        fs.delete_file(f"{base}/{APPLIED_DIR}/{stream_name}/{n}")
    return doomed


def make_index_append_writer(
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stream_name: str = "ingest",
):
    """The ``foreachBatch`` body, exposed so tests can drive the replay
    contract directly: skip if the batch's marker exists, append into
    the batch's own ``ingest=`` subtree (overwrite — idempotent), then
    mark. Empty batches mark without touching the index (no empty
    subtree, no epoch bump)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _marker_exists(path, stream_name, batch_id):
            return
        batch_df.persist()
        try:
            if not batch_df.isEmpty():
                ann_index.append_to_ivfpq_index(
                    batch_df,
                    path,
                    id_col=id_col,
                    vec_col=vec_col,
                    ingest_id=f"{stream_name}-b{batch_id:012d}",
                )
            _write_marker(path, stream_name, batch_id)
        finally:
            batch_df.unpersist()

    return apply_batch


def run_index_append_stream(
    emb_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stream_name: str = "ingest",
    timeout_s: int = 300,
) -> None:
    """Drain an embedding stream into the persisted index at ``path``
    (availableNow; re-runs resume from the checkpoint). The index must
    already exist — the model is trained by ``build_ivfpq_index`` on a
    representative sample ONCE; the stream only encodes under it.
    ``stream_name`` namespaces the ingest subtrees and replay markers,
    so two distinct streams can feed one index (their batch-id spaces
    don't collide); the single-writer contract then applies across
    both — run them in one driver or accept epoch-abort retries."""
    drain_stream(
        emb_stream,
        checkpoint_dir,
        make_index_append_writer(path, id_col, vec_col, stream_name),
        timeout_s=timeout_s,
    )


def run_index_append_stream_from_dir(
    spark: SparkSession,
    landing_dir: str,
    path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_element: str = "double",
    stream_name: str = "ingest",
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
) -> None:
    """Convenience runner: parquet landing dir → index. Each dropped
    file is a micro-batch when ``max_files_per_trigger=1`` — the shape
    the tests use to force genuine multi-batch, restartable ingest."""
    element = "double" if vec_element == "double" else "float"
    schema = f"`{id_col}` long, `{vec_col}` array<{element}>"
    run_index_append_stream(
        read_landing(spark, schema, landing_dir, "parquet", max_files_per_trigger),
        path,
        checkpoint_dir,
        id_col=id_col,
        vec_col=vec_col,
        stream_name=stream_name,
        timeout_s=timeout_s,
    )
