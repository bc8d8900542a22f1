"""Persisted IVF-PQ index: build once, serve many.

``similarity.ivfpq_topk`` composes the full pipeline in memory — it
re-derives centroids/codebooks and re-encodes the ENTIRE corpus on
every call. Correct, but at 10⁹ vectors the encode pass alone dominates
any query batch; the serving shape every production ANN system uses is
a persisted index:

* ``build_ivfpq_index`` runs the expensive corpus pass ONCE — cell
  assignment + PQ encoding as the same fused zero-shuffle projection as
  the composed path — and writes:
  - ``<path>/encoded-<token>``: (neighbor_id, _code0.._code{m-1})
    parquet, **partitioned by (ingest, cell)** — ``cell`` so a query
    batch's scan prunes to its probed cells at the file listing (the
    pruning-to-scan pattern of `pipeline/catalog_ops` external tables),
    ``ingest`` so each incremental append owns a subtree it can
    OVERWRITE idempotently (the streaming-replay contract, see
    ``append_to_ivfpq_index``); a fresh dir per build,
  - ``<path>/model-<epoch>-<token>.json``: the centroid list +
    per-subspace codebooks as one JSON document (Python ``json``
    round-trips finite doubles bit-exactly — shortest-repr emit, exact
    parse — so a reloaded model probes/encodes on the IDENTICAL floats
    the build used), the NAME of the encoded dir holding this model's
    codes, the build-time per-cell occupancy (the drift reference for
    ``index_occupancy_stats``), and the manifest EPOCH. Each manifest
    is a fresh write-once file, staged then COMMITTED BY RENAME;
    readers pick the highest committed epoch, so a crash mid-commit
    can never leave the index unreadable and a reader racing a commit
    sees either the old or the new manifest, never a torn one.
* ``append_to_ivfpq_index`` is the incremental-ingest half: a new
  batch is encoded under the RESIDENT model (batch-linear, corpus
  untouched) and lands in its own ``ingest=<id>`` subtree of the
  manifest's snapshot — bit-equal to a full rebuild over the union
  under the same model, and replay-idempotent when the caller supplies
  the ingest id (``streaming/index_ingest.py`` does).
* ``ivfpq_topk_over_index`` answers a query batch by loading the model
  (small by contract: C centroids + m·n_codes codewords), scanning ONLY
  the probed-cell partitions of the encoded corpus, and running the
  SAME relational ADC shortlist + exact re-rank code the composed path
  uses (``similarity._adc_shortlist`` / ``similarity._exact_rerank``)
  — results are bit-equal to ``ivfpq_topk`` by construction (pinned in
  tests/test_operators.py, and the driver-shape oracle re-passes over
  the index in queries/dedup_ann.similarity_ann_ivfpq_index).

Scale notes: the index holds m bytes of codes per vector (plus the id)
— ~12 B/row at m=4 vs ~520 B for the raw float64 vector, so a 10⁹-row
index is ~12 GB of parquet across C×(1+appends) partition dirs, and a
P-of-C probe batch reads ~P/C of that. The exact re-rank fetches raw
vectors for only the ``shortlist`` survivors via an id-equi-join
against the corpus table — the point-lookup pattern (at warehouse
scale, back that table by a bucketed-by-id layout so the fetch is also
pruned). Writing one partition dir per (ingest, cell) is the right
layout while C·ingests ≤ O(10⁴) — ``compact_ivfpq_index`` folds the
ingest axis back to one subtree; for C beyond the file-listing sweet
spot, bucket by cell instead.

Concurrency contract: one writer at a time (appends, compactions,
rebuilds). That contract is FENCED, not honor-system: every commit
carries an epoch, and a writer whose loaded epoch is no longer current
at commit time aborts loudly instead of silently dropping the other
writer's work (``pipeline.object_swap.commit_epoch``, the fence the
fuzzy dedup store commits through too). Detection, not locking — a
true simultaneous double-commit at the same epoch is still
last-listed-wins, but any sequential interleave (the realistic
cron-overlap failure) raises.

≙ reference: none (north-star extension; the reference has no vector
surface). Composition/citations: similarity.py's IVF/PQ operators.
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.object_swap import (
    TOMBSTONE_PREFIX,
    commit_epoch,
    list_epochs,
    new_token,
    read_latest,
    recover_swap_dirs,
    swap_dir,
    sweep_superseded,
    write_tombstone,
)
from ..pipeline.writers import _pafs_base
from .similarity import (
    CentroidList,
    PQCodebooks,
    _adc_shortlist,
    _adc_shortlist_residual,
    _exact_rerank,
    assign_cells,
    collect_centroids,
    pq_codebooks,
    pq_codebooks_residual,
    pq_encode,
    probe_cells,
    seed_centroids,
    with_residual,
)

ENCODED_DIR = "encoded"  # legacy fixed layout; new builds use encoded-<token>
MODEL_DIR = "model"  # legacy Spark-text manifest dir (pre-epoch layout)
MODEL_PREFIX = "model-"  # epoch-fenced manifests: model-<epoch:012d>-<token>
BASE_INGEST = "base"  # the build's (and compaction's) ingest partition value
_MODEL_VERSION = 1
# Below this many ids the serve-path exclusion is a literal NOT IN
# (codegen-friendly); above it, a broadcast anti-join (the bloom
# transport threshold, functions/approx.py — literal arrays past ~4096
# words bloat the plan string and analysis time measurably).
_ID_LITERAL_MAX = 4096


@dataclass(frozen=True)
class IvfPqModel:
    """The driver-resident half of a persisted index: everything needed
    to probe cells and build ADC LUTs without touching the corpus.
    ``encoded_dir`` is the manifest pointer — the model names WHICH
    encoded snapshot its codes live in; ``epoch`` is the fencing token
    every writer echoes at commit; ``occupancy`` is the build-time
    per-cell row distribution (``index_occupancy_stats``'s drift
    reference), carried forward verbatim by appends/compactions."""

    centroids: CentroidList
    codebooks: PQCodebooks
    n_centroids: int
    m: int
    n_codes: int
    dim: int
    encoded_dir: str = ENCODED_DIR
    epoch: int = 0
    occupancy: tuple[tuple[int, int], ...] | None = None
    # True = codes quantize RESIDUALS v − centroid[cell] (IVFADC); the
    # flag travels with the model because codes are meaningless scored
    # under the wrong LUT convention — serving reads it, never guesses.
    residual: bool = False

    def to_doc(self) -> dict:
        """The manifest document (``model-<epoch>-<token>.json``).
        Python ``json`` round-trips finite doubles bit-exactly, so a
        reloaded model probes/encodes on the identical floats."""
        cents, cbs = self.centroids, self.codebooks
        occ = self.occupancy
        return {
            "version": _MODEL_VERSION,
            "epoch": self.epoch,
            "residual": self.residual,
            "n_centroids": len(cents),
            "m": len(cbs),
            "n_codes": len(cbs[0]),
            "dim": self.dim,
            "encoded_dir": self.encoded_dir,
            "occupancy": [[int(c), int(n)] for c, n in occ] if occ is not None else None,
            "centroids": [[int(cid), list(map(float, v))] for cid, v in cents],
            "codebooks": [
                [[int(code), list(map(float, w))] for code, w in book] for book in cbs
            ],
        }

    @classmethod
    def from_doc(cls, doc: dict) -> "IvfPqModel":
        """Inverse of ``to_doc``; loud on version mismatch — codes
        written under one model are meaningless probed under another
        (same failure mode as the bloom slot-version guard)."""
        if doc.get("version") != _MODEL_VERSION:
            raise ValueError(
                f"index model version {doc.get('version')} != code version "
                f"{_MODEL_VERSION}: rebuild the index"
            )
        occ = doc.get("occupancy")
        return cls(
            centroids=[(int(cid), [float(x) for x in v]) for cid, v in doc["centroids"]],
            codebooks=[
                [(int(code), [float(x) for x in w]) for code, w in book]
                for book in doc["codebooks"]
            ],
            n_centroids=int(doc["n_centroids"]),
            m=int(doc["m"]),
            n_codes=int(doc["n_codes"]),
            dim=int(doc["dim"]),
            # Pre-snapshot manifests (no key) point at the legacy fixed dir.
            encoded_dir=str(doc.get("encoded_dir", ENCODED_DIR)),
            epoch=int(doc.get("epoch", 0)),
            occupancy=tuple((int(c), int(n)) for c, n in occ)
            if occ is not None
            else None,
            residual=bool(doc.get("residual", False)),
        )


def _commit(path: str, model: IvfPqModel, **changes) -> IvfPqModel:
    """Fence on ``model.epoch`` and commit the next-epoch manifest of
    ``model`` with ``changes`` applied; returns the committed model.
    The shared fence raises if another writer committed since ``model``
    was loaded — the append-vs-compact interleave that would otherwise
    silently drop the earlier writer's rows."""
    new = replace(model, epoch=model.epoch + 1, **changes)
    commit_epoch(path, MODEL_PREFIX, new.to_doc(), model.epoch)
    return new


def _snapshot_occupancy(spark: SparkSession, snapshot: str) -> tuple[tuple[int, int], ...]:
    """Per-cell row counts of an encoded snapshot, as a sorted tuple.
    One groupBy over the partition column — the scan reads no data
    columns, so at 10⁹ rows this is parquet-footer metadata plus the
    listing, not a code read."""
    rows = (
        spark.read.parquet(snapshot)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return tuple(sorted((int(r["cell"]), int(r["n"])) for r in rows))


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 4,
    n_codes: int = 16,
    centroids: CentroidList | None = None,
    codebooks: PQCodebooks | None = None,
    residual: bool = False,
) -> IvfPqModel:
    """One corpus pass → persisted index at ``path``.

    ``residual=True`` builds the IVFADC form: codes quantize
    v − centroid[cell] (``similarity.ivfpq_residual_topk``'s encoding —
    materially better recall at identical code size; the default
    codebooks are then ``pq_codebooks_residual``, and a caller-supplied
    book must be trained on residuals). The flag is persisted in the
    manifest and drives the serving path's LUT convention.

    Centroids/codebooks default to the deterministic id-seeded model
    (oracle-replayable); pass ``kmeans_centroids`` /
    ``pq_codebooks_kmeans`` output for trained indexes — the layout and
    query path are identical (``m``/``n_codes`` are derived from a
    caller-supplied ``codebooks``, so a geometry mismatch between the
    two is impossible by construction). The encoded corpus write is the
    fused assign+encode projection (zero shuffles before the
    partitioned write's own exchange), landing under ``ingest=base``.

    Rebuild atomicity (snapshot-pointer pattern): each build writes its
    codes to a FRESH ``encoded-<token>`` dir, then commits by writing a
    FRESH ``model-<epoch>-<token>`` manifest naming that dir. A crash
    anywhere leaves the previous (complete) manifest as the latest —
    readers never see new codes under old centroids and never hit a
    missing-manifest window (the failure modes an in-place overwrite
    cannot avoid). Superseded snapshot/manifest dirs are garbage, not
    hazard; ``expire_ivfpq_snapshots`` sweeps them by retention with a
    min-age grace. Rebuilding an EXISTING index is epoch-fenced like
    every other write: if another writer committed between this build's
    model load and its commit, the commit raises.

    Standing takedowns are honored: ids tombstoned at ``path``
    (``delete_from_ivfpq_index``) are excluded from the corpus BEFORE
    seeding/training/encoding — a drift-triggered retrain over the
    caller's corpus-of-record must not resurrect deleted vectors (and
    would otherwise pin their tombstones unretirable forever). The
    re-consent path is deleting the tombstone file first."""
    manifests = list_epochs(*_pafs_base(path), MODEL_PREFIX)
    expect_epoch = manifests[-1][0] if manifests else 0
    tomb = tombstoned_ids(path)
    if tomb:
        emb = _without_ids(emb, id_col, tomb)
    cents = centroids or collect_centroids(
        seed_centroids(emb, id_col, vec_col, n_centroids)
    )
    if codebooks is not None:
        cbs = codebooks
    elif residual:
        cbs = pq_codebooks_residual(emb, cents, id_col, vec_col, m, n_codes)
    else:
        cbs = pq_codebooks(emb, id_col, vec_col, m, n_codes)
    # The codebooks ARE the geometry: a trained book with m=8 passed
    # alongside the default m=4 must not silently persist half the
    # subspaces (and n_centroids only seeds the default centroid draw).
    m = len(cbs)
    n_codes = len(cbs[0])
    dim = len(cents[0][1])
    encoded_dir = f"{ENCODED_DIR}-{new_token()}"

    enc = _encode_batch(emb, cents, cbs, id_col, vec_col, residual).select(
        F.col(id_col).alias("neighbor_id"),
        F.lit(BASE_INGEST).alias("ingest"),
        "cell",
        *[f"_code{j}" for j in range(m)],
    )
    enc.write.mode("overwrite").partitionBy("ingest", "cell").parquet(
        f"{path}/{encoded_dir}"
    )
    occ = _snapshot_occupancy(emb.sparkSession, f"{path}/{encoded_dir}")
    return _commit(
        path,
        IvfPqModel(
            centroids=cents,
            codebooks=cbs,
            n_centroids=len(cents),
            m=m,
            n_codes=n_codes,
            dim=dim,
            encoded_dir=encoded_dir,
            epoch=expect_epoch,
            occupancy=occ,
            residual=residual,
        ),
    )


def _encode_batch(
    emb: DataFrame,
    cents: CentroidList,
    cbs: PQCodebooks,
    id_col: str,
    vec_col: str,
    residual: bool,
) -> DataFrame:
    """The ONE copy of the frame-side encode both build and append use:
    assign cells, optionally shift by the cell's centroid (residual
    mode — still the same fused zero-shuffle projection; the subtract
    is a ``zip_with`` over a literal centroid map), PQ-encode."""
    cells = assign_cells(emb, cents, id_col, vec_col)
    if residual:
        return pq_encode(
            with_residual(cells, cents, vec_col, "_rv").drop(vec_col),
            cbs,
            id_col,
            "_rv",
        )
    return pq_encode(cells, cbs, id_col, vec_col)


def compact_ivfpq_index(spark: SparkSession, path: str) -> IvfPqModel:
    """Rewrite the index's snapshot with one file per cell and
    pointer-swap the manifest — the OPTIMIZE step an append-heavy index
    needs. Every ``append_to_ivfpq_index`` lands one ``ingest=<id>``
    subtree with one file per cell it touches; after a year of daily
    ingest a probed cell's scan opens ~365 files whose per-file
    overhead (open + footer + tiny row groups) dwarfs the code bytes.
    Compaction is pure IO — read the current snapshot, fold every
    ingest back into ``ingest=base``, ``repartition("cell")`` so each
    cell's rows land in one task → ONE file per cell, write a fresh
    snapshot, commit a fresh manifest (same model, same build-time
    occupancy, new dir, next epoch). No re-encode, no result change
    (bit-equal pinned in tests); the swap is atomic under the same
    latest-complete-manifest rule as rebuilds, so live readers finish
    on the old snapshot. The commit is epoch-fenced: a compaction that
    raced an append aborts loudly instead of publishing a snapshot
    missing the appended rows."""
    model = load_ivfpq_model(spark, path)
    enc = spark.read.parquet(f"{path}/{model.encoded_dir}")
    if "ingest" in enc.columns:
        enc = enc.drop("ingest")
    new_dir = f"{ENCODED_DIR}-{new_token()}"
    (
        enc.withColumn("ingest", F.lit(BASE_INGEST))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("ingest", "cell")
        .parquet(f"{path}/{new_dir}")
    )
    return _commit(path, model, encoded_dir=new_dir)


def expire_ivfpq_snapshots(
    spark: SparkSession, path: str, min_age_seconds: float = 0.0
) -> list[str]:
    """Retention sweep: delete every encoded snapshot dir the CURRENT
    manifest does not name, every superseded manifest artifact (epoch
    below the current one, plus the legacy ``model/`` dir once an
    epoch-fenced manifest exists), and any incomplete manifest debris —
    the garbage rebuilds and compactions leave behind by design (their
    write order makes the swap atomic; see ``build_ivfpq_index``).
    Returns the deleted dir names, sorted.

    ``min_age_seconds`` is the grace horizon of table-format snapshot
    expiry, ENFORCED: a candidate whose mtime is younger than the
    horizon is skipped, so (a) a reader that loaded the manifest before
    the latest swap finishes its scan of the superseded dir, and (b) an
    uncommitted ``encoded-<token>`` from a build in progress is never
    swept mid-write. Wire this into a schedule with a horizon
    comfortably above the longest query job (e.g. daily with 24 h);
    the 0 default is for tests and offline maintenance windows where no
    reader or writer can be in flight. Filesystem access goes through
    ``pyarrow.fs`` — the same local/S3/HDFS seam as
    ``pipeline/lake.py``."""
    import pyarrow.fs as pafs

    model = load_ivfpq_model(spark, path)
    fs, base = _pafs_base(path)
    current_manifest = {name for _, name in list_epochs(fs, base, MODEL_PREFIX)[-1:]}

    def superseded(i) -> bool:
        n = i.base_name
        if i.type == pafs.FileType.Directory:
            return (
                (n.startswith(f"{ENCODED_DIR}-") or n == ENCODED_DIR)
                and n != model.encoded_dir
            ) or (n == MODEL_DIR and bool(current_manifest))
        return (
            n.startswith(MODEL_PREFIX) and n not in current_manifest
        ) or n.startswith(".tmp-")  # crashed manifest stagings

    expired = sweep_superseded(fs, base, superseded, min_age_seconds)
    now = time.time()
    # Tombstone retirement: a takedown id list can go once (a) it is
    # older than the grace horizon — no reader on a pre-delete snapshot
    # can still be in flight, because those snapshots were themselves
    # swept at the same horizon — and (b) its ids are verifiably absent
    # from the CURRENT snapshot (one membership scan for all candidate
    # files together; epoch comparisons alone would be unsound — a
    # racing compaction bumps the epoch without applying the delete).
    tomb_candidates = []
    for name in _list_tombstones(fs, base):
        info = fs.get_file_info(f"{base}/{name}")
        if (
            info.mtime is not None
            and now - info.mtime.timestamp() < min_age_seconds
        ):
            continue
        tomb_candidates.append((name, _read_tombstone(fs, base, name)))
    retired = []
    if tomb_candidates:
        all_ids = sorted({i for _, ids in tomb_candidates for i in ids})
        enc = spark.read.parquet(f"{path}/{model.encoded_dir}")
        present = {
            int(r["neighbor_id"])
            for r in enc.join(
                F.broadcast(
                    spark.createDataFrame(
                        [(i,) for i in all_ids], "neighbor_id long"
                    )
                ),
                "neighbor_id",
                "left_semi",
            )
            .select("neighbor_id")
            .distinct()
            .collect()
        }
        for name, ids in tomb_candidates:
            if not present.intersection(ids):
                fs.delete_file(f"{base}/{name}")
                retired.append(name)
    return sorted(expired + retired)


def _list_tombstones(fs, base) -> list[str]:
    """Committed ``tombstone-<token>.json`` filenames under ``base``,
    sorted (``object_swap.write_tombstone`` commits them by rename, so
    staged ``.tmp-`` debris is invisible)."""
    import pyarrow.fs as pafs

    try:
        infos = fs.get_file_info(pafs.FileSelector(base, recursive=False))
    except (FileNotFoundError, OSError):
        return []
    return sorted(
        i.base_name
        for i in infos
        if i.type == pafs.FileType.File
        and i.base_name.startswith(TOMBSTONE_PREFIX)
        and i.base_name.endswith(".json")
    )


def _read_tombstone(fs, base, name) -> list[int]:
    with fs.open_input_stream(f"{base}/{name}") as f:
        return [int(i) for i in json.loads(f.read().decode())["ids"]]


def tombstoned_ids(path: str) -> list[int]:
    """Union of every tombstone file's ids at ``path``, sorted. Small
    by contract (takedown requests, not bulk deletes — the retention
    sweep retires files once their ids are physically gone)."""
    fs, base = _pafs_base(path)
    out: set[int] = set()
    for name in _list_tombstones(fs, base):
        out.update(_read_tombstone(fs, base, name))
    return sorted(out)


def _match_ids(df: DataFrame, col: str, ids: list[int], how: str) -> DataFrame:
    """Keep (``how="left_semi"``) or drop (``"left_anti"``) the rows of
    ``df`` whose ``col`` is in ``ids``: a literal IN under the threshold
    (stays inside whole-stage codegen), a broadcast join above it (a
    giant literal array bloats plan analysis)."""
    ids = [int(i) for i in ids]
    if len(ids) <= _ID_LITERAL_MAX:
        hit = F.col(col).isin(ids)
        return df.filter(hit if how == "left_semi" else ~hit)
    listed = df.sparkSession.createDataFrame([(i,) for i in ids], f"{col} long")
    return df.join(F.broadcast(listed), col, how)


def _without_ids(df: DataFrame, col: str, ids: list[int]) -> DataFrame:
    """Exclude ``ids`` from ``df[col]`` (``_match_ids``' anti case)."""
    return _match_ids(df, col, ids, "left_anti") if ids else df


def recover_index_delete(path: str) -> dict:
    """Crash recovery for ``delete_from_ivfpq_index``'s partition swap,
    run automatically at delete entry and by ``maintain_index``. The
    swap per affected partition is (1) move live dir →
    ``.del-old-<token>-<dir>`` trash, (2) move staged survivors in,
    (3) drop the trash; each move is atomic, so a hard crash leaves a
    partition in exactly one of three states: normal (no debris), trash
    present WITH a live dir (crashed after 2 — survivors are live, drop
    the trash), or trash present WITHOUT a live dir (crashed between 1
    and 2 — the partition's NON-deleted rows are stranded in the trash;
    restore it, and the retried delete re-derives the survivors because
    the doomed ids are visible in the snapshot again — the tombstone
    committed before any data moved keeps serving correct throughout;
    the all-rows-doomed case restores too and converges the same way).
    Orphan ``.del-<token>`` staging roots from the crashed run are
    swept — the retry rewrites the same survivors. Without this sweep
    the stranded rows were PERMANENT: a retry no-oped (the doomed ids
    were no longer visible) and ``expire_ivfpq_snapshots`` lists only
    the index root, never inside the snapshot (ADVICE r14 #1). Returns
    ``{"restored", "dropped", "staging_swept"}`` (partition dirs /
    staging names, sorted). Same single-writer maintenance contract as
    every other lifecycle op — do not run concurrently with a live
    delete. The sweep itself is ``object_swap.recover_swap_dirs``
    (partition ``a/b`` encoded as ``a~b`` in the trash name)."""
    fs, base = _pafs_base(path)
    doc = read_latest(fs, base, MODEL_PREFIX)
    enc_dir = str(doc.get("encoded_dir", ENCODED_DIR)) if doc else ENCODED_DIR
    restored, dropped, swept = recover_swap_dirs(
        fs,
        f"{base}/{enc_dir}",
        ".del-old-",
        ".del-",
        lambda enc: enc.replace("~", "/"),
        stage_named=False,
    )
    return {
        "restored": sorted(restored),
        "dropped": sorted(dropped),
        "staging_swept": sorted(swept),
    }


def delete_from_ivfpq_index(
    spark: SparkSession, path: str, ids, *, keep_tombstone: bool = True
) -> dict:
    """Takedown: physically remove ``ids`` from the index by rewriting
    ONLY the partitions that contain them — at 100 TB you cannot
    rebuild the world to delete 100 ids, and the (ingest, cell)
    partition layout makes the rewrite surgical: one pruned scan finds
    the affected partition dirs, each is rewritten without the doomed
    rows (staged next to it, then swapped), everything else is
    untouched bytes.

    Serving guarantee, in two layers:

    1. A ``tombstone-<token>.json`` id list is committed (staged +
       rename) BEFORE any data moves; ``ivfpq_topk_over_index`` filters
       the union of tombstoned ids on every call, so any query that
       STARTS after this function begins never returns a deleted id —
       even a query reading a STALE pre-delete snapshot (a reader that
       loaded a superseded manifest inside the retention grace window).
       The one window this cannot close is a query already mid-scan
       when the takedown lands — document that to your DPO as the
       in-flight horizon (bounded by the longest query job, the same
       horizon the retention sweep's ``min_age_seconds`` encodes).
    2. The physical rewrite then removes the rows; the commit bumps the
       manifest epoch through the same fence as every writer, so a
       racing append/compaction aborts loudly on one side or the other.
       If THIS writer loses the race (RuntimeError at commit), the
       tombstone stays — serving stays correct — and the caller retries
       the delete against the new snapshot.

    Crash safety: tombstone-first means any crash leaves serving
    correct; a crash mid-swap can leave one partition's non-deleted
    rows in a hidden ``.del-old-*`` trash dir (invisible to readers) —
    ``recover_index_delete``, run automatically at entry here and by
    ``maintain_index``, restores a trash dir whose live partition is
    missing and drops one whose swap completed, after which the retry
    re-derives the survivors (the doomed ids are visible again).
    Re-running with the same ids on a healthy index is idempotent:
    already-deleted ids match no partitions and the call no-ops
    without an epoch bump.

    ``ids`` is takedown-request-sized by contract (the affected-
    partition list is collected driver-side, one entry per id at
    worst). The build-time ``occupancy`` drift reference in the
    manifest is intentionally NOT rewritten: deletions that move the
    index's shape SHOULD register as drift. ``keep_tombstone=False``
    skips layer 1 for callers that only want the physical rewrite
    (e.g. re-ingest-after-consent workflows); the default keeps the
    stale-snapshot guarantee. Returns ``{"requested", "deleted_rows",
    "partitions_rewritten", "epoch", "tombstone"}``.

    ≙ reference: none (north-star lifecycle; VERDICT r13 #1)."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        raise ValueError("delete_from_ivfpq_index: empty id list")
    recover_index_delete(path)  # restore any crashed prior swap first
    model = load_ivfpq_model(spark, path)
    tomb_name = (
        write_tombstone(*_pafs_base(path), ids, new_token()) if keep_tombstone else None
    )

    snap = f"{path}/{model.encoded_dir}"
    snap_fs, snap_base = _pafs_base(snap)
    enc = spark.read.parquet(snap)
    legacy = "ingest" not in enc.columns
    keys = ["cell"] if legacy else ["ingest", "cell"]
    # rows to delete, grouped by partition — one pruned-projection scan
    doomed = _match_ids(enc, "neighbor_id", ids, "left_semi")
    affected = (
        doomed.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if not affected:
        return {
            "requested": len(ids),
            "deleted_rows": 0,
            "partitions_rewritten": 0,
            "epoch": model.epoch,
            "tombstone": tomb_name,
        }

    def _part_dir(r) -> str:
        if legacy:
            return f"cell={r['cell']}"
        return f"ingest={r['ingest']}/cell={r['cell']}"

    part_dirs = [_part_dir(r) for r in affected]
    deleted_rows = sum(int(r["n"]) for r in affected)
    # Rewrite the survivors of ONLY the affected partitions into a
    # dot-staging dir inside the snapshot (invisible to partition
    # discovery), preserving the partition columns via basePath.
    token2 = new_token()
    stage_root = f"{snap}/.del-{token2}"
    keep = _without_ids(
        spark.read.option("basePath", snap).parquet(
            *[f"{snap}/{d}" for d in part_dirs]
        ),
        "neighbor_id",
        ids,
    )
    keep.write.mode("overwrite").partitionBy(*keys).parquet(stage_root)
    for d in part_dirs:
        swap_dir(
            snap_fs,
            f"{snap_base}/{d}",
            f"{snap_base}/.del-{token2}/{d}",
            f"{snap_base}/.del-old-{token2}-{d.replace('/', '~')}",
        )
    try:
        snap_fs.delete_dir(f"{snap_base}/.del-{token2}")
    except (FileNotFoundError, OSError):
        pass  # staging root already consumed entirely by the swaps
    epoch = _commit(path, model).epoch
    return {
        "requested": len(ids),
        "deleted_rows": deleted_rows,
        "partitions_rewritten": len(part_dirs),
        "epoch": epoch,
        "tombstone": tomb_name,
    }


def append_to_ivfpq_index(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ingest_id: str | None = None,
) -> IvfPqModel:
    """Incremental ingest: encode ONLY the new batch under the index's
    EXISTING model and land its (neighbor_id, cell, codes) rows in an
    ``ingest=<id>`` subtree of the manifest's current snapshot — the
    daily-ingest shape. Cost is one map-side assign+encode projection
    over the BATCH; the resident corpus is never touched, which is the
    whole point at 10⁹ vectors (a 10⁶-row day lands in seconds
    regardless of corpus size).

    ``ingest_id`` names the subtree; the write is an OVERWRITE of that
    subtree, so re-running the same append is idempotent — the replay
    contract ``streaming/index_ingest.py`` builds on (a retried
    micro-batch re-lands its own rows, never duplicates them). Omit it
    for ad-hoc batch appends and a fresh unique id is generated. The id
    must not collide with ``base`` (the build's subtree) or a previous
    append's id unless a replacement is intended.

    Consistency: the model is unchanged, so appended codes are mutually
    consistent with resident ones by construction — serving after an
    append is bit-equal to a full rebuild over the union under the same
    model (pinned in tests). The subtree write commits through the
    job-level output committer (a failed append leaves staging debris,
    never half-visible codes); the append then bumps the manifest epoch
    — same model, same dir — which is what FENCES it against a
    concurrent compaction (the compaction's commit sees the moved epoch
    and aborts instead of publishing a snapshot missing these rows);
    symmetrically, if a compaction committed mid-append, the append's
    own bump raises and the caller retries against the new snapshot
    (the rows it wrote landed in the superseded dir — debris for the
    retention sweep, not duplicates). Caller contract: batch ids are
    NEW ids — the index stores rows, not keys; run the incremental-
    dedup ops upstream. When drift accumulates (``index_occupancy_
    stats`` past threshold), retrain via ``build_ivfpq_index`` — the
    snapshot-pointer rebuild swaps atomically under live readers.

    Standing takedowns are honored: tombstoned ids in the batch are
    silently excluded (same rule as the fuzzy-store ingest writer) —
    a replayed or late-arriving append must not re-land a deleted
    vector; remove the tombstone file first to re-admit an id."""
    import pyarrow.fs as pafs

    spark = new_emb.sparkSession
    model = load_ivfpq_model(spark, path)
    tomb = tombstoned_ids(path)
    if tomb:
        new_emb = _without_ids(new_emb, id_col, tomb)
    if ingest_id is None:
        ingest_id = f"u{new_token()}"
    if ingest_id == BASE_INGEST:
        raise ValueError(
            f"ingest_id {BASE_INGEST!r} is reserved for the build's subtree"
        )
    # A pre-ingest-layout snapshot has bare cell=* dirs at its root;
    # landing an ingest=<id> subtree next to them would give the
    # partition discovery two different depths and break every
    # subsequent read — refuse loudly instead.
    fs, base = _pafs_base(f"{path}/{model.encoded_dir}")
    top = fs.get_file_info(pafs.FileSelector(base, recursive=False))
    if any(
        i.type == pafs.FileType.Directory and i.base_name.startswith("cell=")
        for i in top
    ):
        raise ValueError(
            f"snapshot {model.encoded_dir} uses the legacy single-level "
            f"cell layout; rebuild the index before appending"
        )
    enc = _encode_batch(
        new_emb, model.centroids, model.codebooks, id_col, vec_col, model.residual
    ).select(
        F.col(id_col).alias("neighbor_id"),
        "cell",
        *[f"_code{j}" for j in range(model.m)],
    )
    enc.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/{model.encoded_dir}/ingest={ingest_id}"
    )
    return _commit(path, model)


def load_ivfpq_model(spark: SparkSession, path: str) -> IvfPqModel:
    """Read back the latest committed model artifact (highest-epoch
    ``model-*.json``; staged ``.tmp-`` writes are invisible until their
    commit rename; falls back to the legacy Spark-text ``model/`` dir
    for pre-epoch indexes). Loud on version mismatch — codes written
    under one model are meaningless probed under another (same failure
    mode as the bloom slot-version guard)."""
    doc = read_latest(*_pafs_base(path), MODEL_PREFIX)
    if doc is None:
        # Legacy layout: Spark-text dir at <path>/model (epoch 0).
        rows = spark.read.text(f"{path}/{MODEL_DIR}").collect()
        if len(rows) != 1:
            raise ValueError(
                f"index model at {path} has {len(rows)} manifest rows, expected 1"
            )
        doc = json.loads(rows[0]["value"])
    return IvfPqModel.from_doc(doc)


def index_occupancy_stats(spark: SparkSession, path: str) -> dict:
    """Cell-occupancy drift: compare the snapshot's CURRENT per-cell
    row distribution against the BUILD-time distribution stored in the
    manifest — the retrain signal ``append_to_ivfpq_index``'s contract
    points at. Appends encode under frozen centroids; if the incoming
    data's distribution shifts, mass piles into cells the centroids no
    longer describe well — probes scan more rows for the same recall.
    The drift statistic is total-variation distance between the two
    normalized distributions (0 = identical shape, 1 = disjoint):
    same-distribution growth keeps it near 0 regardless of VOLUME,
    which is exactly the property a retrain trigger needs (don't
    retrain because the index grew; retrain because its SHAPE moved).
    Rule of thumb: alert at 0.1, retrain by 0.25 — but gate on your own
    recall soak. Cost: one groupBy over the partition column (parquet
    footer metadata, no code bytes read).

    IMPORTANT bound (measured, SCALE.md "maintain_index cost split"):
    ``tv_drift`` compares the WHOLE index's shape to the build's, so it
    is bounded above by the appended-mass fraction — a 5% append can
    never push it past ~0.05 no matter how alien the new data. The
    early signal ``tv_drift_new_mass`` is therefore PER-APPEND: each
    ``ingest=<id>`` subtree of the snapshot is one appended batch, and
    the statistic is the WORST (max) TV between any appended batch's
    own cell shape and the build distribution. It reads ~0 when every
    batch matched the model and ~1 the moment ANY batch landed where
    the model never saw mass — independent of how much resident data
    dilutes the whole-index number, and immune to one well-behaved
    batch averaging an alien one away (the round-12 cumulative form's
    failure mode, VERDICT r12 #1). ``None`` when no append subtrees
    exist (fresh build, legacy layout, or just-compacted index — after
    a compaction folds subtrees into ``ingest=base`` the early signal
    resets and ``tv_drift`` is the backstop). ``per_append`` lists each
    batch's (ingest, n, tv_vs_built, tv_noise) worst-first, where
    ``tv_noise`` is the batch's own sampling floor — the TV an n-row
    batch drawn from the BUILT distribution itself would read
    (``maintain_index`` gates each batch against it, so a cloud of
    small honest batches cannot max its way over a fixed threshold by
    chance); ``new_mass_fraction``
    is the appended share of the index, so a cron can apply "retrain
    when tv_drift ≥ T, or tv_drift_new_mass ≥ T' once
    new_mass_fraction ≥ f" without re-deriving either (that composite
    rule IS ``maintain_index``'s trigger). Cost is unchanged: one
    groupBy over the two partition columns — parquet footer metadata,
    no code bytes read."""
    model = load_ivfpq_model(spark, path)
    if model.occupancy is None:
        raise ValueError(
            f"index at {path} has no build-time occupancy in its manifest "
            f"(built before occupancy tracking): rebuild to enable drift stats"
        )
    snap = spark.read.parquet(f"{path}/{model.encoded_dir}")
    if "ingest" in snap.columns:
        rows = (
            snap.groupBy("ingest", "cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_ingest: dict[str, dict[int, int]] = {}
        for r in rows:
            by_ingest.setdefault(str(r["ingest"]), {})[int(r["cell"])] = int(r["n"])
    else:
        # Legacy single-level cell layout: no append subtrees exist
        # (append_to_ivfpq_index refuses this layout), so the whole
        # snapshot is the base mass and the early signal is None.
        by_ingest = {
            BASE_INGEST: {
                int(r["cell"]): int(r["n"])
                for r in snap.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        }
    built = dict(model.occupancy)
    bt = sum(built.values()) or 1
    cur: dict[int, int] = {}
    for occ in by_ingest.values():
        for c, n in occ.items():
            cur[c] = cur.get(c, 0) + n
    ct = sum(cur.values()) or 1
    cells = sorted(set(built) | set(cur))

    def _tv(occ: dict[int, int]) -> float:
        t = sum(occ.values()) or 1
        return 0.5 * sum(
            abs(built.get(c, 0) / bt - occ.get(c, 0) / t)
            for c in set(built) | set(occ)
        )

    def _tv_noise(n: int) -> float:
        # Expected sampling TV of an n-row batch drawn from the BUILT
        # distribution itself (normal approx of the multinomial:
        # E|p̂−p| ≈ sqrt(2p(1−p)/(πn)) per cell). A small batch's raw
        # TV sits at this floor even when nothing drifted, so the
        # trigger compares each batch against ITS OWN floor — cells
        # the build never saw contribute 0 here, which is exactly
        # right: mass in an unseen cell is never explainable as noise.
        if n <= 0:
            return 0.0
        return 0.5 * sum(
            math.sqrt(2.0 * p * (1.0 - p) / (math.pi * n))
            for p in (v / bt for v in built.values())
        )

    per_append = sorted(
        (
            {
                "ingest": ing,
                "n": sum(occ.values()),
                "tv_vs_built": _tv(occ),
                "tv_noise": _tv_noise(sum(occ.values())),
            }
            for ing, occ in by_ingest.items()
            if ing != BASE_INGEST
        ),
        key=lambda d: -d["tv_vs_built"],
    )
    nt = sum(d["n"] for d in per_append)
    return {
        "built_total": sum(built.values()),
        "current_total": sum(cur.values()),
        "new_mass_fraction": nt / ct,
        "per_cell": [
            {"cell": c, "built_n": built.get(c, 0), "current_n": cur.get(c, 0)}
            for c in cells
        ],
        "per_append": per_append,
        "tv_drift": _tv(cur),
        "tv_drift_new_mass": per_append[0]["tv_vs_built"] if per_append else None,
    }


def index_recall_probe(
    emb: DataFrame,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probes: int = 4,
    shortlist: int = 100,
) -> float:
    """Recall@k of the SERVED index against exact brute-force cosine
    over the same corpus, for a small labeled probe set: the
    within-cell-rot detector occupancy drift cannot see (VERDICT r12
    Next #6 — appends can land in the RIGHT cells while the frozen
    codebooks' quantization of them degrades, so the shape statistic
    reads ~0 while served quality sinks). Runs at query cost: the
    served side is an ordinary ``ivfpq_topk_over_index`` probe, the
    exact side is ``cosine_topk_vectorized`` over the probe set only —
    both O(|probes|·N/C-ish), so a daily cron can afford it where a
    full-corpus recall soak cannot. Returns served∩exact / exact as a
    single float."""
    from .similarity import cosine_topk_vectorized

    served = ivfpq_topk_over_index(
        emb, queries, path, id_col=id_col, vec_col=vec_col,
        k=k, probes=probes, shortlist=shortlist,
    ).select("query_id", "neighbor_id")
    exact = cosine_topk_vectorized(
        emb, queries, id_col=id_col, vec_col=vec_col, k=k
    ).select("query_id", "neighbor_id")
    denom = exact.count()
    if denom == 0:
        raise ValueError("empty exact top-k over the probe set")
    hit = served.join(exact, ["query_id", "neighbor_id"], "inner").count()
    return hit / denom


def maintain_index(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_threshold: float = 0.25,
    new_mass_drift_threshold: float = 0.5,
    min_new_mass_fraction: float = 0.1,
    noise_multiple: float = 2.0,
    min_age_seconds: float = 0.0,
    train: bool = True,
    probe_queries: DataFrame | None = None,
    recall_floor: float | None = None,
    recall_k: int = 5,
    recall_probes: int = 4,
    recall_shortlist: int = 100,
) -> dict:
    """The composed drift→retrain maintenance loop (round-11 VERDICT
    #5): ``index_occupancy_stats`` reports, ``build_ivfpq_index``
    rebuilds, ``expire_ivfpq_snapshots`` sweeps — this runs them as the
    single cron body a production index needs. One occupancy groupBy
    (parquet footer metadata); if total-variation drift from the
    build-time distribution is below ``drift_threshold`` the run is a
    no-op apart from the retention sweep. When tripped, the index is
    REBUILT over ``emb`` — the caller's current raw-vector corpus
    (resident + everything appended since; codes alone can't retrain) —
    under the existing geometry (n_centroids, m, n_codes, residual
    carried over), with centroids/codebooks re-TRAINED on the current
    corpus (``train=True``: spherical k-means + per-subspace Lloyd —
    the point of retraining is moving centroids to where the mass now
    is; ``train=False`` keeps the deterministic id-seeded model, the
    oracle-replayable form). The rebuild commits through the same
    epoch fence as every writer — a maintenance run racing an ingest
    stream aborts loudly at commit, exactly like a compaction. The
    sweep runs last, under ``min_age_seconds`` grace, so the
    superseded snapshot survives any in-flight reader.

    The trigger is the COMPOSITE rule the occupancy docstring
    prescribes (wired per VERDICT r12 #1/#2 — the r12 loop acted on
    ``tv_drift`` alone, which SCALE.md proves is bounded by the
    appended-mass fraction, so small continuous appends could never
    trip it until alien data was ~threshold of the whole index):

        retrain when  tv_drift ≥ drift_threshold
                  OR (tv_drift_new_mass ≥ new_mass_drift_threshold
                      AND new_mass_fraction ≥ min_new_mass_fraction)
                  OR (recall_floor is set AND the served-index recall
                      probe reads below it)

    The new-mass arm is the early warning: a 10% alien append trips it
    the day it lands (pinned), a 10% same-distribution append doesn't,
    and the ``min_new_mass_fraction`` gate keeps a 50-row oddball batch
    from retraining a 10⁹-row index. The arm scans EVERY append batch
    (not just the max) and gates each against its own sampling-noise
    floor: a batch of n rows drawn from the built distribution itself
    reads TV ≈ its ``tv_noise``, and the max over hundreds of small
    honest batches can cross a fixed threshold by chance alone (at 64
    cells a 50-row batch floats at TV ≈ 0.45) — so a batch triggers
    only when its TV ≥ max(new_mass_drift_threshold, noise_multiple ×
    its own floor). Alien mass into cells the build never saw carries
    a floor of 0 and always registers. The optional recall arm
    (``probe_queries`` + ``recall_floor``) catches within-cell rot that
    no occupancy statistic can see — appends landing in the RIGHT
    cells while quantization quality degrades — by probing the served
    index against exact brute-force over a small labeled query set
    (``index_recall_probe``; runs at query cost, skipped entirely when
    ``recall_floor`` is None so the default tick stays one metadata
    groupBy).

    Returns ``{"tv_drift", "tv_drift_new_mass", "new_mass_fraction",
    "threshold", "trigger", "recall", "rebuilt", "epoch", "expired"}``
    — ``trigger`` names which arm fired ("tv_drift" | "new_mass" |
    "recall" | None). Idempotent at the loop level: a rebuild resets
    the manifest occupancy to the fresh distribution and folds append
    subtrees into base, so the next run measures ~0 drift on both arms
    and no-ops (pinned). Runs ``recover_index_delete`` first, so a
    takedown crashed mid-swap is healed before anything measures or
    rebuilds over the snapshot."""
    recover_index_delete(path)
    stats = index_occupancy_stats(spark, path)
    model = load_ivfpq_model(spark, path)
    rebuilt = False
    epoch = model.epoch
    trigger = None
    if stats["tv_drift"] >= drift_threshold:
        trigger = "tv_drift"
    elif stats["new_mass_fraction"] >= min_new_mass_fraction and any(
        d["tv_vs_built"]
        >= max(new_mass_drift_threshold, noise_multiple * d["tv_noise"])
        for d in stats["per_append"]
    ):
        trigger = "new_mass"
    recall = None
    if trigger is None and recall_floor is not None:
        if probe_queries is None:
            raise ValueError("recall_floor requires probe_queries")
        recall = index_recall_probe(
            emb, probe_queries, path, id_col=id_col, vec_col=vec_col,
            k=recall_k, probes=recall_probes, shortlist=recall_shortlist,
        )
        if recall < recall_floor:
            trigger = "recall"
    if trigger is not None:
        centroids = codebooks = None
        if train:
            from .similarity import kmeans_centroids, pq_codebooks_kmeans

            centroids = kmeans_centroids(emb, id_col, vec_col, model.n_centroids)
            if not model.residual:
                codebooks = pq_codebooks_kmeans(
                    emb, id_col, vec_col, model.m, model.n_codes
                )
            # residual mode: leave codebooks=None — build_ivfpq_index
            # derives residual-trained books from the NEW centroids
            # (books trained on old-centroid residuals would be wrong).
        new = build_ivfpq_index(
            emb,
            path,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=model.n_centroids,
            m=model.m,
            n_codes=model.n_codes,
            centroids=centroids,
            codebooks=codebooks,
            residual=model.residual,
        )
        rebuilt = True
        epoch = new.epoch
    expired = expire_ivfpq_snapshots(spark, path, min_age_seconds=min_age_seconds)
    return {
        "tv_drift": stats["tv_drift"],
        "tv_drift_new_mass": stats["tv_drift_new_mass"],
        "new_mass_fraction": stats["new_mass_fraction"],
        "threshold": drift_threshold,
        "trigger": trigger,
        "recall": recall,
        "rebuilt": rebuilt,
        "epoch": epoch,
        "expired": expired,
        # live takedown ids the serve path is filtering (the sweep
        # above retires them once physically absent + out of grace)
        "tombstones": len(tombstoned_ids(path)),
    }


def ivfpq_topk_over_index(
    emb: DataFrame,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probes: int = 4,
    shortlist: int = 100,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ top-k served from a persisted index: probe cells from the
    loaded model, scan ONLY those cell partitions of the encoded
    corpus (a literal IN filter on the partition column — static
    pruning at the file listing, pinned in tests/test_plans.py), ADC
    shortlist, exact re-rank against ``emb`` (the raw-vector store; an
    id-equi-join point lookup over ``shortlist`` ids per query).
    Bit-equal to ``similarity.ivfpq_topk`` with the same model — both
    paths share ``_adc_shortlist``/``_exact_rerank``. A manifest with
    ``residual: true`` switches the LUT convention to the IVFADC form
    (per-(query, probed cell) tables over q − centroid[cell], shared
    ``_adc_shortlist_residual``) — bit-equal to
    ``ivfpq_residual_topk`` likewise.

    ``allowed`` is FILTERED search — the metadata-filter feature every
    production vector store ships (tenant / label / freshness
    predicates): a frame whose ``id_col`` lists the eligible neighbor
    ids; candidates are restricted by a semi-join BEFORE ADC scoring,
    so the shortlist is spent entirely on eligible vectors (top-k
    *among the filtered set*, not a post-filter of the unfiltered
    top-k, which under-fills k whenever the filter is selective).
    Scale note: a semi-join is the right shape while the filter is a
    query-time set; a filter used on EVERY query (e.g. tenant id)
    belongs in the index rows themselves — add it as a column next to
    the codes and it pushes into the pruned scan for free."""
    spark = emb.sparkSession
    model = load_ivfpq_model(spark, path)
    # The manifest names the snapshot its codes live in — reading the
    # dir it points at (not a fixed path) is what makes a half-finished
    # rebuild invisible to queries.
    enc = spark.read.parquet(f"{path}/{model.encoded_dir}")
    if "ingest" in enc.columns:
        # The ingest axis is a write-idempotency partition, not data —
        # serving reads the union of all ingests.
        enc = enc.drop("ingest")
    # Takedown guarantee layer 1 (delete_from_ivfpq_index): exclude
    # tombstoned ids on EVERY serve, so even a stale pre-delete
    # snapshot inside the retention grace window never returns a
    # deleted id. Normally empty (one cheap listing); the sweep
    # retires tombstones once their rows are physically gone.
    tomb = tombstoned_ids(path)
    if tomb:
        enc = _without_ids(enc, "neighbor_id", tomb)

    probed = probe_cells(queries, model.centroids, id_col, vec_col, probes)
    # The probed rows are Q×P, bounded by contract (queries are a
    # batch, not a stream) — collect them so the scan filter is LITERAL
    # and prunes partitions statically, not via a runtime DPP subquery
    # (residual mode additionally derives its per-(query, cell) LUTs
    # from the same collected rows).
    probed_rows = probed.collect()
    cell_ids = sorted({int(r["cell"]) for r in probed_rows})
    if not cell_ids:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, l2sq_micro long"
        )
    pruned = enc.filter(F.col("cell").isin(cell_ids))
    cand = (
        probed.select("query_id", "cell")
        .join(pruned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    if allowed is not None:
        cand = cand.join(
            allowed.select(F.col(id_col).alias("neighbor_id")).distinct(),
            "neighbor_id",
            "left_semi",
        )
    if model.residual:
        short = _adc_shortlist_residual(
            cand, probed_rows, model.centroids, model.codebooks, shortlist
        )
    else:
        short = _adc_shortlist(
            cand, queries, model.codebooks, id_col, vec_col, shortlist
        )
    if short is None:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, l2sq_micro long"
        )
    return _exact_rerank(short, queries, emb, id_col, vec_col, k)
