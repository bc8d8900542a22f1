"""Streaming document ingest through the persisted LSH signature store
(``operators/minhash.signature_store`` / ``incremental_fuzzy_matches``).

The batch half gives arrival-batch fuzzy dedup against an already-signed
corpus; real pipelines ingest documents as a STREAM. This module closes
that loop the way ``index_ingest`` closes the ANN one: ``foreachBatch``
over the doc stream, each micro-batch probed against the store, accepted
docs landing in BOTH halves of the store's layout —

* ``store/ingest=<id>/``  — the batch's (doc_id, band_id, band_hash)
  band rows (what future batches probe against);
* ``docs/ingest=<id>/``   — the batch's accepted (doc_id, text) rows
  (what verification point-looks-up);
* ``decisions/ingest=<id>/`` — the dropped docs' (doc_id, dup_of,
  jaccard) audit log;
* ``applied/<stream>/b<id>`` — the replay marker.

Exactly-once under foreachBatch's at-least-once replay, by construction:

* every write is an OVERWRITE of the batch's own ``ingest=`` subtree —
  a retried batch re-lands its own rows in place, never duplicates;
* the probe EXCLUDES the batch's own subtree (partition filter on the
  ``ingest`` column), so a replayed batch can never match ITSELF in the
  store and silently drop its own docs — the one replay shape the
  overwrite alone cannot make idempotent;
* the ``applied`` marker short-circuits fully-committed batches.

Semantics per batch: exact within-batch collapse first (lowest doc_id
per identical text — a micro-batch that contains the same doc twice
lands it once), then fuzzy match vs the store with the batch operator's
best-match selection. NEAR-dup pairs arriving inside one micro-batch
both land (next batches will match the survivor); cross-batch fuzzy
dups are the store's job, within-stream fuzzy cohorts are
``fuzzy_dedup.py``'s — compose them upstream if both are needed.

Scale shape: each batch costs the batch's shingle+sign pass, one
equi-join against the store's band rows, and a candidate point-lookup
into the accepted-docs table — never a corpus re-sign (the measured
argument is SCALE.md "Incremental fuzzy dedup vs the signature store").

Maintenance (round-11 VERDICT #3/#4/#8 — the same lifecycle the ANN
index grew in rounds 10–11): every micro-batch adds three ``ingest=``
subtrees forever, so after ~100 batches a probe's file listing decays
the way the index's did (832 files → 16 before compaction existed).
``compact_fuzzy_store`` folds all three kinds into fresh single-subtree
snapshot dirs and POINTER-SWAPS a rename-committed, epoch-fenced
``store-manifest-<epoch>-<token>.json`` naming them — the exact
manifest pattern of ``operators/ann_index.py``. The ingest writer bumps
the epoch per committed batch, so a compactor racing the stream aborts
loudly at its commit instead of publishing a snapshot missing the
batch's rows (the index's lost-write race, pre-empted here). Replay
stays safe ACROSS a compaction: the ``applied`` marker short-circuits
committed batches (markers outlive compaction), and an uncommitted
replay's self-exclusion filter still works because its own subtree name
is never folded into the snapshot it probes. The manifest also persists
the store's LSH GEOMETRY — a writer constructed with mismatched
(num_hashes, bands, shingle_n) now fails loudly instead of silently
matching nothing. ``expire_fuzzy_store`` is the retention sweep
(min-age grace, same contract as ``expire_ivfpq_snapshots``);
``decisions_keep_seconds`` ages the audit log out at compaction time.

≙ reference: none (north-star extension). Composition: minhash.py +
the subtree-overwrite + marker discipline of index_ingest.py + the
manifest/fence/retention lifecycle of ann_index.py.
"""

from __future__ import annotations

import json
import logging
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import minhash
from ..operators.ann_index import (
    TOMBSTONE_PREFIX,
    _fs_base,
    _without_ids,
    tombstoned_ids,
)
from ._drain import drain_available_now
from .index_ingest import _marker_exists, _write_marker

_log = logging.getLogger(__name__)

# every token this module mints is uuid4().hex[:12]; the recovery sweep
# keys on the shape so foreign dot-dirs are never parsed or destroyed
_TOKEN_RE = re.compile(r"[0-9a-f]{12}")

STORE_DIR = "store"
DOCS_DIR = "docs"
DECISIONS_DIR = "decisions"
MANIFEST_PREFIX = "store-manifest-"
_MANIFEST_VERSION = 1
_KINDS = ("store", "docs", "decisions")
_LEGACY_DIRS = {"store": STORE_DIR, "docs": DOCS_DIR, "decisions": DECISIONS_DIR}


def _list_store_manifests(fs, base) -> list[tuple[int, str]]:
    """Committed ``store-manifest-<epoch>-<token>.json`` files under
    ``base`` as (epoch, filename), ascending — same write-once,
    rename-committed artifact rule as ``ann_index._list_manifests``
    (crash debris stays under a ``.tmp-`` name readers never match)."""
    import pyarrow.fs as pafs

    try:
        infos = fs.get_file_info(pafs.FileSelector(base, recursive=False))
    except (FileNotFoundError, OSError):
        return []
    out = []
    for i in infos:
        if (
            i.type != pafs.FileType.File
            or not i.base_name.startswith(MANIFEST_PREFIX)
            or not i.base_name.endswith(".json")
        ):
            continue
        try:
            epoch = int(i.base_name[len(MANIFEST_PREFIX) :].split("-", 1)[0])
        except ValueError:
            continue
        out.append((epoch, i.base_name))
    return sorted(out)


def load_store_manifest(store_path: str) -> dict | None:
    """Latest committed manifest document, or None for a fresh/legacy
    store (no manifest yet → readers fall back to the fixed
    ``store``/``docs``/``decisions`` dirs at epoch 0)."""
    fs, base = _fs_base(store_path)
    manifests = _list_store_manifests(fs, base)
    if not manifests:
        return None
    _, name = manifests[-1]
    with fs.open_input_stream(f"{base}/{name}") as f:
        return json.loads(f.read().decode())


def _store_dirs(manifest: dict | None) -> dict[str, str]:
    if manifest is None:
        return dict(_LEGACY_DIRS)
    return dict(manifest["dirs"])


def _store_epoch(manifest: dict | None) -> int:
    return 0 if manifest is None else int(manifest["epoch"])


def _commit_store_manifest(
    store_path: str,
    dirs: dict[str, str],
    geometry: dict | None,
    expect_epoch: int,
) -> int:
    """Fence, then commit (mirror of ``ann_index._commit_manifest``):
    re-read the current epoch immediately before writing and abort
    loudly if it moved since the caller loaded it — the
    ingest-vs-compact interleave that would otherwise publish a
    snapshot missing the other writer's rows. The manifest is staged
    under ``.tmp-`` and committed by rename; pyarrow, not a Spark job
    (the index's measured finding: a KB-sized JSON through the job
    machinery costs ~1 s constant per commit)."""
    manifest = load_store_manifest(store_path)
    current = _store_epoch(manifest)
    if current != expect_epoch:
        raise RuntimeError(
            f"fuzzy store at {store_path} moved from epoch {expect_epoch} to "
            f"{current} since this writer loaded it — a concurrent "
            f"ingest/compaction committed first. Aborting instead of "
            f"overwriting its work; reload and retry. (Single-writer "
            f"contract; this fence detects sequential interleaves, it is "
            f"not a lock.)"
        )
    new_epoch = expect_epoch + 1
    doc = {
        "version": _MANIFEST_VERSION,
        "epoch": new_epoch,
        "dirs": dict(dirs),
        "geometry": dict(geometry) if geometry else None,
    }
    token = uuid.uuid4().hex[:12]
    fs, base = _fs_base(store_path)
    fs.create_dir(base, recursive=True)
    staging = f"{base}/.tmp-{token}"
    with fs.open_output_stream(staging) as out:
        out.write(json.dumps(doc).encode())
    fs.move(staging, f"{base}/{MANIFEST_PREFIX}{new_epoch:012d}-{token}.json")
    return new_epoch


def _check_geometry(manifest: dict | None, geometry: dict, store_path: str) -> None:
    """Band hashes are seed-dependent: probing a store under the wrong
    (num_hashes, bands, shingle_n) silently yields zero candidates.
    Once the manifest records the geometry, a mismatched writer/prober
    is a loud error instead of a silent no-match."""
    if manifest is None or not manifest.get("geometry"):
        return
    stored = manifest["geometry"]
    if any(stored.get(k) != geometry[k] for k in geometry):
        raise ValueError(
            f"store at {store_path} was built with geometry {stored}; this "
            f"writer was constructed with {geometry} — refusing to mix "
            f"(band hashes are seed-dependent; a mismatch matches nothing)."
        )


def _read_subtrees(
    spark: SparkSession, base: str, schema: T.StructType
) -> DataFrame:
    """All committed ``ingest=`` subtrees under ``base`` with the
    ``ingest`` partition column attached; empty frame (with schema)
    when nothing has landed yet."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.option("basePath", base).parquet(base)
    except AnalysisException:
        return spark.createDataFrame(
            [], T.StructType(schema.fields + [T.StructField("ingest", T.StringType())])
        )


_SCHEMAS = {
    "store": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band_id", T.IntegerType()),
            T.StructField("band_hash", T.LongType()),
        ]
    ),
    "docs": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    ),
    "decisions": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    ),
}


def _read_kind(
    spark: SparkSession, store_path: str, kind: str, manifest: dict | None = ...
) -> DataFrame:
    """Read one kind through the CURRENT manifest's snapshot dir (legacy
    fixed dir when no manifest exists). Pass a pre-loaded ``manifest``
    to pin one consistent snapshot across several reads — the writer
    does, so a compaction committing mid-batch can't split its view.

    ``store``/``docs`` reads exclude TOMBSTONED doc ids
    (``remove_docs``): the physical rewrite usually already removed
    them, but a reader racing the removal — or one on a superseded
    snapshot — must never match/serve a removed doc. ``decisions`` is
    the audit log and keeps full history."""
    if manifest is ...:
        manifest = load_store_manifest(store_path)
    df = _read_subtrees(
        spark, f"{store_path}/{_store_dirs(manifest)[kind]}", _SCHEMAS[kind]
    )
    if kind in ("store", "docs"):
        tomb = tombstoned_ids(store_path)
        if tomb:
            df = _without_ids(df, "doc_id", tomb)
    return df


def read_store_bands(spark: SparkSession, store_path: str) -> DataFrame:
    return _read_kind(spark, store_path, "store")


def read_store_docs(spark: SparkSession, store_path: str) -> DataFrame:
    return _read_kind(spark, store_path, "docs")


def read_decisions(spark: SparkSession, store_path: str) -> DataFrame:
    return _read_kind(spark, store_path, "decisions")


def make_fuzzy_ingest_writer(
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    stream_name: str = "ingest",
    max_bucket_size: int | None = minhash.DEFAULT_MAX_BUCKET_SIZE,
    log_overcap: bool = False,
):
    """The ``foreachBatch`` body, exposed so tests can drive the replay
    contract directly. The store's LSH geometry is fixed at writer
    construction and must match every prior writer of this store
    (band hashes are seed-dependent — a mismatch silently yields zero
    candidates; see ``incremental_fuzzy_matches``).

    ``max_bucket_size`` is the probe-side hot-bucket cap (ADVICE r12:
    previously hard-wired to the default with no opt-out on this path)
    — ``None`` disables it; ``log_overcap=True`` emits one JSON line of
    ``overcap_band_stats`` over the store's band rows per applied
    batch, the audit that says whether the cap is actually shedding
    candidates on this corpus."""

    if stream_name == "base" or stream_name.startswith("base-"):
        raise ValueError(
            "make_fuzzy_ingest_writer: stream_name "
            f"{stream_name!r} collides with the 'base'/'base-<token>' "
            "namespace reserved for build/compaction/resign snapshot "
            "subtrees — a batch subtree named like one would be folded "
            "as committed even with its replay pending"
        )
    geometry = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _marker_exists(store_path, stream_name, batch_id):
            return
        spark = batch_df.sparkSession
        cur = f"{stream_name}-b{batch_id:012d}"
        # Pin ONE manifest for the whole batch: reads, writes, and the
        # closing epoch bump all see the same snapshot. The bump is the
        # fence — a compaction that swapped the snapshot mid-batch makes
        # the commit below raise, the stream retries the batch against
        # the new snapshot, and the rows written into the superseded
        # dirs are debris for expire_fuzzy_store, never duplicates
        # (same append-vs-compact contract as append_to_ivfpq_index).
        manifest = load_store_manifest(store_path)
        _check_geometry(manifest, geometry, store_path)
        dirs = _store_dirs(manifest)
        epoch = _store_epoch(manifest)
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                _write_marker(store_path, stream_name, batch_id)
                return
            # exact within-batch collapse: lowest id per identical text
            batch = (
                batch_df.select(id_col, text_col)
                .withColumn("_fp", F.md5(F.col(text_col)))
                .groupBy("_fp")
                .agg(F.min(F.struct(id_col, text_col)).alias("_s"))
                .select("_s.*")
            )
            # Re-adjudicate removed docs (remove_docs tombstones): a
            # REPLAYED batch whose marker was lost would otherwise
            # re-land a taken-down doc verbatim — the overwrite-own-
            # subtree idempotency resurrecting exactly what the
            # takedown removed. The tombstone list is takedown-sized
            # by contract; its decision stands until the tombstone
            # file is removed (the explicit re-consent path).
            tomb = tombstoned_ids(store_path)
            if tomb:
                batch = _without_ids(batch, id_col, tomb)
            # probe against every subtree EXCEPT our own (replay guard:
            # sound across compaction because a folded snapshot's
            # subtree is named `base-*`, never a replayed batch's id —
            # and a COMMITTED batch never reaches this code anyway, the
            # marker short-circuits it above)
            store = _read_kind(spark, store_path, "store", manifest).filter(
                F.col("ingest") != cur
            )
            corpus = _read_kind(spark, store_path, "docs", manifest).filter(
                F.col("ingest") != cur
            )
            if log_overcap and max_bucket_size is not None:
                audit = minhash.overcap_band_stats(
                    store.select("band_id", "band_hash"), max_bucket_size
                ).collect()[0]
                print(
                    json.dumps(
                        {
                            "event": "overcap_band_stats",
                            "stream": stream_name,
                            "batch_id": batch_id,
                            "max_bucket_size": max_bucket_size,
                            **{k: audit[k] for k in audit.asDict()},
                        }
                    )
                )
            matches = minhash.incremental_fuzzy_matches(
                batch,
                corpus,
                store.select(id_col, "band_id", "band_hash"),
                id_col,
                text_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                max_bucket_size=max_bucket_size,
            ).persist()
            survivors = batch.join(matches, id_col, "left_anti").persist()
            if not matches.isEmpty():
                matches.write.mode("overwrite").parquet(
                    f"{store_path}/{dirs['decisions']}/ingest={cur}"
                )
            if not survivors.isEmpty():
                survivors.select(id_col, text_col).write.mode("overwrite").parquet(
                    f"{store_path}/{dirs['docs']}/ingest={cur}"
                )
                minhash.signature_store(
                    survivors,
                    id_col,
                    text_col,
                    num_hashes=num_hashes,
                    bands=bands,
                    shingle_n=shingle_n,
                ).write.mode("overwrite").parquet(
                    f"{store_path}/{dirs['store']}/ingest={cur}"
                )
            matches.unpersist()
            survivors.unpersist()
            _commit_store_manifest(store_path, dirs, geometry, expect_epoch=epoch)
            _write_marker(store_path, stream_name, batch_id)
        finally:
            batch_df.unpersist()
            from ..queries.catalog import release_persisted

            release_persisted()  # incremental_fuzzy_matches track-persists

    return apply_batch


def run_fuzzy_store_ingest_stream(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    **writer_kwargs,
) -> None:
    """Drain a document stream into the store at ``store_path``
    (availableNow; re-runs resume from the checkpoint). The store may
    start empty — the first batch seeds it."""
    q = (
        doc_stream.writeStream.outputMode("append")
        .foreachBatch(make_fuzzy_ingest_writer(store_path, **writer_kwargs))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q, timeout_s)


def _subtree_infos(fs, base: str, dir_name: str):
    """FileInfo list of ``ingest=`` subtree DIRECTORIES under a kind
    dir; empty when the dir doesn't exist yet."""
    import pyarrow.fs as pafs

    try:
        infos = fs.get_file_info(
            pafs.FileSelector(f"{base}/{dir_name}", recursive=False)
        )
    except (FileNotFoundError, OSError):
        return []
    return [
        i
        for i in infos
        if i.type == pafs.FileType.Directory and i.base_name.startswith("ingest=")
    ]


def _subtree_committed(store_path: str, subtree: str) -> bool:
    """subtree is the ``ingest=<id>`` dir name. base-* ids are build/
    compaction/resign outputs (not replayable batches); stream ids are
    ``<stream>-b<12 digits>`` and committed iff their marker exists.
    Uncommitted subtrees must NOT fold into a snapshot — their batch
    has a replay pending whose self-exclusion filter the fold would
    defeat (see compact_fuzzy_store)."""
    sub = subtree[len("ingest=") :]
    # Exact 'base' or 'base-<token>' only: a STREAM named e.g.
    # 'baseline' writes 'baseline-b<digits>' subtrees whose commit
    # markers must be honored — a bare startswith("base") would fold
    # its uncommitted batches and defeat the replay self-exclusion
    # filter. Writer construction also rejects 'base'-prefixed stream
    # names (make_fuzzy_ingest_writer) so the namespaces can't collide.
    if sub == "base" or sub.startswith("base-"):
        return True
    head, _, tail = sub.rpartition("-b")
    if head and tail.isdigit():
        return _marker_exists(store_path, head, int(tail))
    return True  # ad-hoc batch-unaware naming: nothing to replay


def compact_fuzzy_store(
    spark: SparkSession,
    store_path: str,
    decisions_keep_seconds: float | None = None,
) -> dict:
    """Fold every ``ingest=`` subtree of all three kinds into fresh
    single-subtree snapshot dirs and pointer-swap the manifest — the
    OPTIMIZE step a continuously-ingesting store needs (mirror of
    ``compact_ivfpq_index``: after N batches a probe's scan opens ~3N
    subtrees whose per-file overhead dwarfs the row bytes). Pure IO —
    no re-sign, no decision change; band rows repartition on
    ``band_id`` so each band folds into one file (the probe join's own
    key), docs/decisions fold by their id. The commit is epoch-fenced:
    a compaction that raced an ingest batch aborts loudly instead of
    publishing a snapshot missing the batch's rows. Replay safety
    survives the fold: committed batches are marker-short-circuited,
    and an UNCOMMITTED replay's self-exclusion filter still holds
    because the folded subtree is named ``base-<token>``, never a
    batch id.

    Only COMMITTED subtrees fold (a stream batch is committed iff its
    ``applied`` marker exists): a batch that crashed between its
    subtree writes and its marker has a replay pending, and folding
    its rows into ``base`` would defeat the replay's self-exclusion
    filter — so its orphan subtrees are simply left out of the new
    snapshot (debris; the replay recomputes against the new snapshot
    and re-lands them fresh). That makes the fold safe in EVERY crash
    window by construction, not just the common ones.

    ``decisions_keep_seconds`` is the audit-log retention (round-11
    VERDICT #8): decision subtrees whose mtime is older than the
    horizon are dropped at fold time — the log has no hot-path reader,
    so age-out at compaction is its whole lifecycle. ``None`` keeps
    everything. Superseded dirs become debris for
    ``expire_fuzzy_store``. Returns ``{"epoch", "dirs"}``.
    """
    manifest = load_store_manifest(store_path)
    dirs = _store_dirs(manifest)
    epoch = _store_epoch(manifest)
    token = uuid.uuid4().hex[:12]
    fs, base = _fs_base(store_path)
    new_dirs = {k: f"{k}-snap-{token}" for k in _KINDS}
    fold_key = {"store": "band_id", "docs": "doc_id", "decisions": "doc_id"}
    now = time.time()

    for kind in _KINDS:
        src = f"{store_path}/{dirs[kind]}"
        infos = _subtree_infos(fs, base, dirs[kind])
        keep = [
            i.base_name
            for i in infos
            if _subtree_committed(store_path, i.base_name)
            and not (
                kind == "decisions"
                and decisions_keep_seconds is not None
                and i.mtime is not None
                and now - i.mtime.timestamp() > decisions_keep_seconds
            )
        ]
        if not keep:
            continue  # nothing to carry — readers get the empty frame
        df = (
            spark.read.option("basePath", src)
            .parquet(*[f"{src}/{d}" for d in keep])
            .drop("ingest")
        )
        df.repartition(F.col(fold_key[kind])).write.mode("overwrite").parquet(
            f"{store_path}/{new_dirs[kind]}/ingest=base-{token}"
        )
    new_epoch = _commit_store_manifest(
        store_path,
        new_dirs,
        (manifest or {}).get("geometry"),
        expect_epoch=epoch,
    )
    return {"epoch": new_epoch, "dirs": new_dirs}


def resign_store(
    spark: SparkSession,
    store_path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> dict:
    """Geometry MIGRATION (VERDICT r12 Next #7): re-sign the store's
    accepted documents under a new LSH geometry and pointer-swap the
    manifest — the path to re-tune (num_hashes, bands, shingle_n) as
    the corpus grows that previously required abandoning the store
    (the geometry fence correctly refuses mismatched writers, but a
    fence with no gate is a wall).

    Mechanics: fold the COMMITTED ``docs`` and ``decisions`` subtrees
    into a fresh snapshot exactly like a compaction (same committed-
    only rule — an uncommitted batch's replay must re-land against the
    new snapshot, not be half-frozen into it), then REGENERATE the
    band-signature ``store`` kind from the folded docs under the new
    geometry (band hashes are seed- and geometry-dependent, so unlike
    compaction the signatures cannot be carried — this is the one
    lifecycle step that re-reads corpus TEXT, cost one signing pass ≈
    the original build). The commit is epoch-fenced like every writer:
    a resign racing an ingest batch aborts loudly at the manifest
    (pinned), leaving the in-flight geometry's store intact. After the
    commit, the manifest carries the NEW geometry, so old-geometry
    writers/probes fail loudly at the fence and a probe under the new
    geometry matches exactly what a fresh-built store over the same
    accepted docs would (pinned bit-equal). Superseded dirs are debris
    for ``expire_fuzzy_store``. Returns ``{"epoch", "dirs",
    "geometry", "docs"}``."""
    manifest = load_store_manifest(store_path)
    dirs = _store_dirs(manifest)
    epoch = _store_epoch(manifest)
    new_geometry = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
    }
    token = uuid.uuid4().hex[:12]
    new_dirs = {k: f"{k}-resign-{token}" for k in _KINDS}
    fs, base = _fs_base(store_path)

    n_docs = 0
    for kind in ("docs", "decisions"):
        src = f"{store_path}/{dirs[kind]}"
        keep = [
            i.base_name
            for i in _subtree_infos(fs, base, dirs[kind])
            if _subtree_committed(store_path, i.base_name)
        ]
        if not keep:
            continue
        df = (
            spark.read.option("basePath", src)
            .parquet(*[f"{src}/{d}" for d in keep])
            .drop("ingest")
        )
        df.repartition(F.col("doc_id")).write.mode("overwrite").parquet(
            f"{store_path}/{new_dirs[kind]}/ingest=base-{token}"
        )
        if kind == "docs":
            # sign the folded snapshot itself — the store kind is
            # derived from exactly what the new manifest will serve
            folded = spark.read.parquet(
                f"{store_path}/{new_dirs[kind]}/ingest=base-{token}"
            )
            n_docs = folded.count()
            minhash.signature_store(
                folded,
                "doc_id",
                "text",
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
            ).repartition(F.col("band_id")).write.mode("overwrite").parquet(
                f"{store_path}/{new_dirs['store']}/ingest=base-{token}"
            )
    new_epoch = _commit_store_manifest(
        store_path, new_dirs, new_geometry, expect_epoch=epoch
    )
    return {
        "epoch": new_epoch,
        "dirs": new_dirs,
        "geometry": new_geometry,
        "docs": n_docs,
    }


def expire_fuzzy_store(
    spark: SparkSession, store_path: str, min_age_seconds: float = 0.0
) -> list[str]:
    """Retention sweep (mirror of ``expire_ivfpq_snapshots``): delete
    every snapshot dir the CURRENT manifest does not name — superseded
    ``<kind>-snap-<token>`` dirs, plus the legacy fixed
    ``store``/``docs``/``decisions`` dirs once a compaction has moved
    the data out of them — every superseded manifest file, and crashed
    ``.tmp-`` stagings. ``min_age_seconds`` is the ENFORCED grace
    horizon: candidates younger than it are skipped, so an in-flight
    reader on the old snapshot finishes and a concurrent compaction's
    half-written dirs are never swept. ``applied/`` markers are never
    touched here (``prune_applied_markers`` owns that lifecycle).
    Returns deleted names, sorted."""
    import pyarrow.fs as pafs

    manifest = load_store_manifest(store_path)
    if manifest is None:
        return []  # legacy store: fixed dirs are live, nothing superseded
    live = set(_store_dirs(manifest).values())
    fs, base = _fs_base(store_path)
    current_manifest = {n for _, n in _list_store_manifests(fs, base)[-1:]}
    now = time.time()
    infos = fs.get_file_info(pafs.FileSelector(base, recursive=False))
    doomed_dirs, doomed_files = [], []
    for i in infos:
        n = i.base_name
        if i.type == pafs.FileType.Directory:
            is_snapshot = n in set(_LEGACY_DIRS.values()) or any(
                n.startswith(f"{k}-snap-") for k in _KINDS
            )
            superseded = is_snapshot and n not in live
            bucket = doomed_dirs
        else:
            superseded = (
                n.startswith(MANIFEST_PREFIX) and n not in current_manifest
            ) or n.startswith(".tmp-")
            bucket = doomed_files
        if not superseded:
            continue
        if i.mtime is not None and now - i.mtime.timestamp() < min_age_seconds:
            continue
        bucket.append(n)
    for d in doomed_dirs:
        fs.delete_dir(f"{base}/{d}")
    for f in doomed_files:
        fs.delete_file(f"{base}/{f}")
    return sorted(doomed_dirs + doomed_files)


def recover_store_removal(store_path: str, manifest: dict | None = ...) -> dict:
    """Crash recovery for ``remove_docs``' subtree swap, run
    automatically at ``remove_docs`` entry and by ``maintain_store``
    (mirror of ``ann_index.recover_index_delete`` / the bucketed SCD-2
    sink's ``_recover_scd2_buckets``). The swap per affected subtree is
    (1) move live ``ingest=<sub>`` → ``.rm-old-<token>-<sub>`` trash,
    (2) move staged survivors in, (3) drop the trash — so a hard crash
    leaves trash WITH a live subtree (swap completed: drop the trash)
    or trash WITHOUT one (the subtree's surviving, non-removed docs/
    band rows are stranded: restore it; the retried removal sees the
    doomed ids again and re-derives the survivors, while the tombstone
    committed before any data moved keeps every read correct
    throughout). Orphan ``.rm-<token>-<sub>`` staging dirs are swept —
    the retry rewrites the same rows. Without this sweep the stranded
    survivors were PERMANENT: the retry found no hits and never
    restored them (ADVICE r14 #2). Operates on the CURRENT manifest's
    snapshot dirs (pass a pre-loaded ``manifest`` to heal the exact
    snapshot a caller is about to rewrite); debris inside superseded
    snapshots is deleted with them by ``expire_fuzzy_store``. Returns
    ``{"restored", "dropped", "staging_swept"}``, each a sorted list
    of ``<kind-dir>/<name>``."""
    import pyarrow.fs as pafs

    if manifest is ...:
        manifest = load_store_manifest(store_path)
    dirs = _store_dirs(manifest)
    fs, base = _fs_base(store_path)
    restored, dropped, swept = [], [], []
    for kind in ("store", "docs"):
        kb = f"{base}/{dirs[kind]}"
        try:
            infos = fs.get_file_info(pafs.FileSelector(kb, recursive=False))
        except (FileNotFoundError, OSError):
            continue
        for i in infos:
            if i.type != pafs.FileType.Directory:
                continue
            n = i.base_name
            if n.startswith(".rm-old-"):
                # .rm-old-<12-hex-token>-<subtree id>. Token validated
                # BEFORE parsing (ADVICE r15 #4): a foreign dot-dir
                # sharing the prefix used to abort the whole recovery
                # on IndexError — skip it loudly; it is not ours.
                tok, _, sub = n[len(".rm-old-") :].partition("-")
                if not (_TOKEN_RE.fullmatch(tok) and sub):
                    _log.warning(
                        "recover_store_removal: skipping %r — not a "
                        "removal-swap artifact (token is not 12-hex)", n
                    )
                    continue
                live = f"{kb}/ingest={sub}"
                if fs.get_file_info(live).type == pafs.FileType.NotFound:
                    fs.move(f"{kb}/{n}", live)
                    restored.append(f"{dirs[kind]}/ingest={sub}")
                else:
                    fs.delete_dir(f"{kb}/{n}")
                    dropped.append(f"{dirs[kind]}/ingest={sub}")
            elif n.startswith(".rm-"):
                # staging dirs are .rm-<12-hex>-<subtree id>; anything
                # else under the prefix is foreign — never destroy it
                tok, _, sub = n[len(".rm-") :].partition("-")
                if not (_TOKEN_RE.fullmatch(tok) and sub):
                    _log.warning(
                        "recover_store_removal: skipping %r — not a "
                        "removal staging dir (token is not 12-hex)", n
                    )
                    continue
                fs.delete_dir(f"{kb}/{n}")
                swept.append(f"{dirs[kind]}/{n}")
    return {
        "restored": sorted(restored),
        "dropped": sorted(dropped),
        "staging_swept": sorted(swept),
    }


def remove_docs(spark: SparkSession, store_path: str, doc_ids) -> dict:
    """Takedown for the dedup store (VERDICT r13 #1, store half):
    physically drop ``doc_ids``' band rows and doc rows by rewriting
    ONLY the ``ingest=`` subtrees that contain them, and tombstone the
    ids so a REPLAYED ingest of a deleted doc is re-adjudicated, not
    auto-readmitted. Three layers, committed in takedown-safe order:

    1. ``tombstone-<token>.json`` at the store root, staged + renamed
       FIRST: from this instant every probe/read of the ``store``/
       ``docs`` kinds excludes the ids (``_read_kind``), and every
       future ingest batch — including a replay of the batch that
       originally landed the doc — drops them before probing
       (``make_fuzzy_ingest_writer``). Store tombstones are PERMANENT
       metadata (KB-scale by the takedown contract): unlike the index,
       replay exposure has no time bound (a checkpoint reset can
       replay arbitrarily old batches), so no sweep retires them —
       deleting the tombstone file is the explicit re-consent path.
    2. An audit row per id lands in ``decisions`` under
       ``ingest=base-rm-<token>`` with NULL ``dup_of``/``jaccard`` —
       the "removed" encoding (real dup decisions always carry a
       non-null ``dup_of``); ages out with the rest of the audit log
       under ``decisions_keep_seconds``.
    3. The affected subtrees of the ``store`` and ``docs`` kinds are
       rewritten without the ids (staged dot-dir, then swapped —
       subtree NAMES are load-bearing for replay self-exclusion and
       must not change); the commit bumps the manifest epoch through
       the fence, so a racing ingest/compaction aborts on one side or
       the other. If THIS writer loses the race, the tombstone stays
       (reads stay correct) and the caller retries. A hard crash
       inside a subtree's two-rename swap strands its survivors in a
       hidden ``.rm-old-*`` trash dir — ``recover_store_removal``,
       run automatically at entry here and by ``maintain_store``,
       restores it so the retry converges.

    Earlier docs that were REJECTED as dups of a removed doc are NOT
    resurrected — they were dropped at ingest and the store never kept
    them; their decision rows remain as history. A future NEAR-DUP of
    a removed doc is ADMITTED (nothing left to match) — removal means
    removal, not a ban on similar content (the tombstone bans the
    exact doc_id only). Returns ``{"requested", "removed_docs",
    "removed_band_rows", "subtrees_rewritten", "epoch", "tombstone"}``.
    """
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        raise ValueError("remove_docs: empty doc id list")
    manifest = load_store_manifest(store_path)
    recover_store_removal(store_path, manifest)  # heal any crashed swap
    dirs = _store_dirs(manifest)
    epoch = _store_epoch(manifest)
    fs, base = _fs_base(store_path)
    token = uuid.uuid4().hex[:12]

    tomb_name = f"{TOMBSTONE_PREFIX}{token}.json"
    fs.create_dir(base, recursive=True)
    staging = f"{base}/.tmp-{token}"
    with fs.open_output_stream(staging) as out:
        out.write(json.dumps({"ids": ids}).encode())
    fs.move(staging, f"{base}/{tomb_name}")

    spark.createDataFrame(
        [(i, None, None) for i in ids], _SCHEMAS["decisions"]
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{store_path}/{dirs['decisions']}/ingest=base-rm-{token}"
    )

    removed = {}
    subtrees_rewritten = 0
    for kind in ("store", "docs"):
        # RAW subtree read — _read_kind would filter the tombstoned ids
        # we are trying to locate.
        df = _read_subtrees(
            spark, f"{store_path}/{dirs[kind]}", _SCHEMAS[kind]
        )
        hit = (
            df.filter(F.col("doc_id").isin(ids))
            .groupBy("ingest")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        removed[kind] = sum(int(r["n"]) for r in hit)
        kind_path = f"{store_path}/{dirs[kind]}"
        kind_fs, kind_base = _fs_base(kind_path)
        for r in hit:
            sub = str(r["ingest"])
            real_path = f"{kind_path}/ingest={sub}"
            keep = _without_ids(spark.read.parquet(real_path), "doc_id", ids)
            if keep.isEmpty():
                kind_fs.delete_dir(f"{kind_base}/ingest={sub}")
            else:
                keep.write.mode("overwrite").parquet(
                    f"{kind_path}/.rm-{token}-{sub}"
                )
                trash = f"{kind_base}/.rm-old-{token}-{sub}"
                kind_fs.move(f"{kind_base}/ingest={sub}", trash)
                kind_fs.move(
                    f"{kind_base}/.rm-{token}-{sub}", f"{kind_base}/ingest={sub}"
                )
                kind_fs.delete_dir(trash)
            subtrees_rewritten += 1
    new_epoch = _commit_store_manifest(
        store_path, dirs, (manifest or {}).get("geometry"), expect_epoch=epoch
    )
    return {
        "requested": len(ids),
        "removed_docs": removed.get("docs", 0),
        "removed_band_rows": removed.get("store", 0),
        "subtrees_rewritten": subtrees_rewritten,
        "epoch": new_epoch,
        "tombstone": tomb_name,
    }


def _subtree_counts(store_path: str, dirs: dict[str, str]) -> dict[str, int]:
    """Committed+orphan ``ingest=`` subtree count per kind — the
    fragmentation measure ``maintain_store`` thresholds on. Pure
    listing, no Spark job."""
    import pyarrow.fs as pafs

    fs, base = _fs_base(store_path)
    out = {}
    for kind in _KINDS:
        try:
            infos = fs.get_file_info(
                pafs.FileSelector(f"{base}/{dirs[kind]}", recursive=False)
            )
        except (FileNotFoundError, OSError):
            infos = []
        out[kind] = sum(
            1
            for i in infos
            if i.type == pafs.FileType.Directory
            and i.base_name.startswith("ingest=")
        )
    return out


def store_stats(spark: SparkSession, store_path: str) -> dict:
    """One-call operational snapshot of the store (VERDICT r12 Next
    #5): manifest epoch + geometry, per-kind subtree count (the
    fragmentation a probe pays in open-file overhead), docs / band /
    decision row counts, and the lifetime dup-decision rate
    (decisions / (docs + decisions) — every ingested doc ended as
    exactly one of the two). Counts are parquet-footer metadata scans;
    the listing is pure filesystem — cheap enough for a cron tick."""
    manifest = load_store_manifest(store_path)
    dirs = _store_dirs(manifest)
    docs_n = read_store_docs(spark, store_path).count()
    bands_n = read_store_bands(spark, store_path).count()
    dec_n = read_decisions(spark, store_path).count()
    ingested = docs_n + dec_n
    return {
        "epoch": _store_epoch(manifest),
        "geometry": (manifest or {}).get("geometry"),
        "subtrees": _subtree_counts(store_path, dirs),
        "docs": docs_n,
        "band_rows": bands_n,
        "decisions": dec_n,
        "dup_decision_rate": (dec_n / ingested) if ingested else 0.0,
        # permanent takedown list (remove_docs) — the ids every read
        # and ingest batch excludes; nonzero is normal after takedowns,
        # growth is worth an operator's eyebrow
        "tombstoned_ids": len(tombstoned_ids(store_path)),
    }


def maintain_store(
    spark: SparkSession,
    store_path: str,
    max_subtrees: int = 16,
    decisions_keep_seconds: float | None = None,
    min_age_seconds: float = 86400.0,
) -> dict:
    """The store's composed cron body (mirror of
    ``ann_index.maintain_index``; VERDICT r12 Next #5 — the primitives
    existed but every cron caller re-derived when to invoke them):
    measure ``store_stats``, fold via ``compact_fuzzy_store`` ONLY
    when any kind's subtree count exceeds ``max_subtrees`` (compaction
    is pure IO proportional to store size — a fragmentation threshold
    is what makes the idle tick cheap), then sweep superseded
    snapshots under the ``min_age_seconds`` grace horizon. The fold
    inherits every safety the compaction carries: epoch fence against
    racing ingest, committed-subtrees-only, ``decisions_keep_seconds``
    retention of the audit log. Idempotent at the loop level: a fold
    leaves one ``base-*`` subtree per kind, so the next tick reads
    fragmentation 1 and no-ops.

    Returns the pre-fold stats plus ``{"compacted", "threshold",
    "epoch", "expired"}`` (``epoch`` reflects the post-fold manifest
    when a fold ran). Runs ``recover_store_removal`` first, so a
    takedown crashed mid-swap is healed before the fold could freeze
    the damaged layout into a new snapshot."""
    recover_store_removal(store_path)
    stats = store_stats(spark, store_path)
    compacted = False
    epoch = stats["epoch"]
    if max(stats["subtrees"].values(), default=0) > max_subtrees:
        out = compact_fuzzy_store(
            spark, store_path, decisions_keep_seconds=decisions_keep_seconds
        )
        compacted = True
        epoch = out["epoch"]
    expired = expire_fuzzy_store(
        spark, store_path, min_age_seconds=min_age_seconds
    )
    return {
        **stats,
        "compacted": compacted,
        "threshold": max_subtrees,
        "epoch": epoch,
        "expired": expired,
    }


def run_fuzzy_store_ingest_from_dir(
    spark: SparkSession,
    landing_dir: str,
    store_path: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
    **writer_kwargs,
) -> None:
    """Convenience runner: parquet landing dir → store. Each dropped
    file is a micro-batch when ``max_files_per_trigger=1``."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    run_fuzzy_store_ingest_stream(
        reader.parquet(landing_dir),
        store_path,
        checkpoint_dir,
        timeout_s=timeout_s,
        **writer_kwargs,
    )
