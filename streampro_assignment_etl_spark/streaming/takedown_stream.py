"""Continuous deletion-request drain: a stream of takedown requests
(data-subject requests, contaminated-doc retractions) applied through
``cascade_takedown`` with a per-batch audit log.

Real takedowns arrive continuously — a DSR queue, a trust-and-safety
topic — not as ad-hoc CLI invocations. This runner closes that loop
the way ``index_ingest``/``fuzzy_store_ingest`` close the ingest ones:
``foreachBatch`` over the request stream, each micro-batch's subject
ids applied through every configured surface in ONE cascade, and an
audit row landed under the batch's own ``batch_id=N`` subtree.

Exactly-once shape, by construction:

* every surface callee is IDEMPOTENT for already-deleted ids
  (tombstone-first deletes; reruns converge), so an at-least-once
  replay of a batch is safe — it re-applies the cascade as a no-op;
* the audit write OVERWRITES the batch's own subtree, so a replay
  replaces its own log row instead of duplicating it. The audit is an
  APPLICATION log (what this batch's run actually did — a replay that
  finds the work already done records zero deletions); the erasure
  TRUTH for a ticket is ``verify_takedown``, read-only and always
  current;
* a surface failure (e.g. an epoch-fence abort against a racing index
  writer) propagates and fails the batch; the checkpoint retry
  re-applies from the top — earlier surfaces no-op, the failed one
  retries against the new snapshot (the cascade's documented retry
  contract).

Scale shape: a batch's id set is takedown-sized by CONTRACT, and the
``max_ids_per_batch`` guard enforces it the same way
``semantic_expand_ids``' fat-finger guard does — one bounded collect,
loud ValueError past the bound (a poisoned topic that suddenly names a
million subjects should stop the stream, not start a corpus-scale
rewrite loop). Everything downstream is the cascade's documented
per-surface pruning.

≙ reference: none (north-star lifecycle; productizes the round-14
takedown runbook's mid-stream removal step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._drain import drain_stream

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("request_ids", T.ArrayType(T.LongType())),
        T.StructField("subject_ids", T.ArrayType(T.StringType())),
        T.StructField("n_subjects", T.LongType()),
        T.StructField("index_deleted_rows", T.LongType()),
        T.StructField("store_removed_docs", T.LongType()),
        T.StructField("table_rows_deleted", T.LongType()),
        T.StructField("scd2_rows_deleted", T.LongType()),
    ]
)


def run_takedown_request_stream(
    requests: DataFrame,
    audit_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    index_path: str | None = None,
    store_path: str | None = None,
    tables: tuple[tuple[str, str], ...] = (),
    scd2_dim_path: str | None = None,
    table_filesystem=None,
    max_ids_per_batch: int = 10_000,
    timeout_s: int = 300,
) -> None:
    """Drain a request stream of ``(request_id long, <id_col>)`` rows:
    per micro-batch, one ``cascade_takedown`` over the batch's distinct
    subject ids (int or string — the cascade's typed-literal contract),
    then one audit row under ``audit_dir/batch_id=N``. At least one
    surface must be configured. ``subject_ids`` in the audit are
    stringified for a stable log schema across id types; the original
    typed values are what reached the surfaces."""
    if not (index_path or store_path or tables or scd2_dim_path):
        raise ValueError(
            "run_takedown_request_stream: configure at least one surface"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.takedown import cascade_takedown

        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            # bound DISTINCT subject ids, not (request, id) pairs — one
            # id named by 50 requests is still one subject. A NULL id —
            # subject OR request_id — is a malformed request: fail
            # LOUDLY rather than silently un-erase a subject (a NULL
            # request_id would otherwise surface as an opaque TypeError
            # in the audit build below; the poison pill wedges the
            # stream with an actionable message instead, the standard
            # streaming contract — ADVICE r15 #3).
            n_null = batch_df.filter(
                F.col(id_col).isNull() | F.col("request_id").isNull()
            ).count()
            if n_null:
                raise ValueError(
                    f"takedown request batch contains {n_null} row(s) with "
                    f"NULL {id_col} or NULL request_id — a malformed "
                    f"request cannot be applied or audited; fix the "
                    f"producer (silently dropping it would leave a subject "
                    f"un-erased with no trace)"
                )
            id_rows = (
                batch_df.select(id_col)
                .distinct()
                .limit(int(max_ids_per_batch) + 1)
                .collect()
            )
            # the request-id collect is bounded by the SAME guard: a
            # topic with a bounded subject set but millions of distinct
            # request ids is equally poisoned, and the audit row must
            # stay KB-sized
            req_rows = (
                batch_df.select("request_id")
                .distinct()
                .limit(int(max_ids_per_batch) + 1)
                .collect()
            )
        finally:
            batch_df.unpersist()
        ids = sorted(
            {r[id_col] for r in id_rows},
            key=lambda x: (isinstance(x, str), x),
        )
        if not ids:
            return
        if len(ids) > max_ids_per_batch or len(req_rows) > max_ids_per_batch:
            what = "subjects" if len(ids) > max_ids_per_batch else "requests"
            raise ValueError(
                f"takedown request batch names more than "
                f"max_ids_per_batch={max_ids_per_batch} {what} — refusing "
                f"to start a corpus-scale rewrite loop from a stream; raise "
                f"the bound deliberately if this wave is intended"
            )
        report = cascade_takedown(
            spark,
            ids,
            index_path=index_path,
            store_path=store_path,
            tables=tables,
            table_filesystem=table_filesystem,
            scd2_dim_path=scd2_dim_path,
        )
        audit = spark.createDataFrame(
            [
                (
                    sorted({int(r["request_id"]) for r in req_rows}),
                    [str(i) for i in ids],
                    len(ids),
                    (report["index"] or {}).get("deleted_rows", 0),
                    (report["store"] or {}).get("removed_docs", 0),
                    sum(
                        t["rows_deleted"] for t in report["tables"].values()
                    ),
                    (report["scd2"] or {}).get("rows_deleted", 0),
                )
            ],
            AUDIT_SCHEMA,
        )
        audit.coalesce(1).write.mode("overwrite").parquet(
            f"{audit_dir}/batch_id={batch_id}"
        )

    drain_stream(requests, checkpoint_dir, write_batch, timeout_s=timeout_s)


def read_takedown_audit(spark, audit_dir: str) -> DataFrame:
    """The audit log with ``batch_id`` attached — one row per applied
    request batch, newest last. Plain partitioned read; the per-batch
    overwrite already guarantees at most one row per batch."""
    return (
        spark.read.option("basePath", audit_dir)
        .parquet(audit_dir)
        .orderBy("batch_id")
    )
