"""Dataset release manifests: versioned snapshots of a lake table and
exact diffs between them (VERDICT r15 #6).

The lake now has deletes (``delete_where``), retention
(``drop_partitions_before``), compaction (``compact_parquet``), and
takedown evidence (``verify_takedown``) — but no versioned
COMPOSITION: "what exactly shipped in release N, and prove release
N+1 no longer contains partition/subject X". This module is that
lineage layer, composed entirely from existing primitives:

* ``snapshot_release`` records, per first-level Hive partition, the
  visible parquet files with their sizes and footer row counts, plus
  a fingerprint. The fingerprint hashes (relative path, bytes, rows)
  triples — NOT file contents — which is exact under this repo's
  write discipline: every writer here lands NEW uuid/token-named
  files and deletes old ones (staged swaps, per-file delete swaps);
  nothing mutates a parquet file in place. Any logical change
  therefore materializes as file adds/removes, which the triples
  catch — the same immutable-file assumption Delta/Iceberg manifests
  rest on. Cost: one recursive listing + one footer read per file
  (metadata pages only, never data pages) — at 100 TB this is the
  listing you already pay for a maintenance tick, and the footer
  reads parallelize trivially (driver loop here; takedown-sized by
  the manifest contract, Spark-side for corpus-scale file counts).
* ``diff_releases`` names every partition added / removed / rewritten
  / unchanged between two manifests, with before/after row counts —
  the audit a training-data release review reads first.
* ``verify_takedown`` (operators/takedown.py) plugs in as the erasure
  proof BETWEEN releases: the diff names which partitions changed;
  the verifier proves the subject is gone from the new table. The
  composition is pinned in tests.

Manifests live in a hidden SIBLING directory
``<parent>/.<name>.releases/release-<id>.json`` — next to the table,
like the SCD-2 forget tombstones, because a whole-table staged swap
(compaction, merge) replaces the table directory itself and would
take an in-table manifest dir with it. Writes are crash-consistent:
staged ``.tmp-*`` + rename, so a torn manifest is never visible; the
reader only ever sees complete JSON. All I/O runs through the
``pyarrow.fs`` seam, so S3-rooted tables snapshot through the same
call (moto-pinned).

≙ reference: none (north-star lifecycle; the reference has no
release/lineage notion).
"""

from __future__ import annotations

import hashlib
import json
import logging

from .writers import (
    _pafs_base,
    _recursive_infos,
    _refuse_mixed_layout,
    _visible_parquet_files,
)

_log = logging.getLogger(__name__)


# Hidden area where maintenance ops PARK (rather than delete) old
# files still referenced by a recorded release (protect_releases=True
# on delete_where / the compactors): invisible to every listing-based
# reader (dot-prefixed), resolvable by read_release's fallback, and
# garbage-collected by expire_releases once no kept release names the
# file. Rel layout is preserved beneath it, so Hive partition values
# survive the round-trip. Defined in object_swap (the mechanism layer
# that does the parking); re-exported here as the user-facing name.
from .object_swap import RETIRED_DIR, put_json  # noqa: E402,F401

# Driver-local mirrors for the injected-filesystem bridge reads
# (read_release / read_table_snapshot), keyed by a fingerprint of the
# EXACT (source rel, bytes, mirror rel) set they materialize. A
# long-lived driver issuing repeated pinned reads used to mkdtemp an
# O(table-bytes) mirror per call and only free it at interpreter exit
# (ADVICE r18 #2 — unbounded disk); the cache reuses a mirror whose
# file set is identical and LRU-evicts beyond _MIRROR_CACHE_MAX.
# Reuse is sound under this repo's write discipline: no writer ever
# mutates a parquet file in place (every op lands NEW token-named
# files), so (rel path, bytes) identifies contents — the same
# immutable-file assumption the release fingerprints rest on.
_MIRROR_CACHE: dict = {}
_MIRROR_CACHE_MAX = 4


def clear_release_mirrors() -> None:
    """Drop every cached bridge mirror now (the explicit cleanup
    handle; also registered atexit)."""
    import shutil as _sh

    for d in _MIRROR_CACHE.values():
        _sh.rmtree(d, ignore_errors=True)
    _MIRROR_CACHE.clear()


def _bridge_mirror(fs, base: str, pairs, sizes) -> str:
    """Materialize ``pairs`` — (source rel under ``base``, rel inside
    the mirror) — into a cached driver-local mirror dir and return its
    path. ``sizes`` maps source rel → bytes from the caller's
    already-taken listing (never per-file HEADs — at a million files
    those would dominate). Cache hit = zero I/O; miss downloads once
    and evicts the least-recently-used mirror beyond the cap."""
    import atexit
    import tempfile
    from pathlib import Path as _P

    key = hashlib.sha256(
        json.dumps(
            [base] + [[s, int(sizes.get(s, 0)), d] for s, d in sorted(pairs)],
            sort_keys=True,
        ).encode()
    ).hexdigest()
    hit = _MIRROR_CACHE.pop(key, None)
    if hit is not None and _P(hit).is_dir():
        _MIRROR_CACHE[key] = hit  # re-insert = mark most-recent
        return hit
    if not _MIRROR_CACHE:
        atexit.register(clear_release_mirrors)
    mirror = tempfile.mkdtemp(prefix="release-mirror-")
    import shutil as _sh

    mp = _P(mirror)
    for src, dst in pairs:
        out = mp / dst
        out.parent.mkdir(parents=True, exist_ok=True)
        with fs.open_input_stream(f"{base}/{src}") as s, open(out, "wb") as o:
            _sh.copyfileobj(s, o)
    _MIRROR_CACHE[key] = mirror
    while len(_MIRROR_CACHE) > _MIRROR_CACHE_MAX:
        oldest = next(iter(_MIRROR_CACHE))
        _sh.rmtree(_MIRROR_CACHE.pop(oldest), ignore_errors=True)
    return mirror


def referenced_rels(path: str, filesystem=None) -> set:
    """Union of every recorded release's file rel-paths — the protected
    set maintenance ops consult before deleting an old file. KB-scale
    manifest reads; no table I/O."""
    out: set = set()
    for rid in list_releases(path, filesystem):
        man = load_release(path, rid, filesystem)
        for p in man["partitions"].values():
            out.update(f["path"] for f in p["files"])
    return out


def expire_releases(
    path: str,
    keep=(),
    filesystem=None,
    dry_run: bool = False,
    expire_all: bool = False,
) -> dict:
    """Retire releases: delete every release manifest NOT in ``keep``,
    then garbage-collect ``.retired/`` files no remaining release
    references — the explicit opt-out that turns a retention root back
    into reclaimable space (and the PHYSICAL-erasure step a takedown
    ticket needs when old releases retain a scrubbed subject's rows —
    ``verify_takedown`` reports that residue as ``retired_rows`` until
    this runs). Visible (live) files are never touched.

    This is the audit layer's ONE irreversible operation (recording is
    immutable and crash-safe), so it carries guardrails (VERDICT r16
    #3 / ADVICE r16 #5):

    * an empty ``keep`` — expire EVERYTHING — must be stated twice:
      pass ``expire_all=True`` or the call raises, so a typo'd or
      defaulted keep-list can't drain every retention root;
    * a ``keep`` id that names no recorded release raises BEFORE any
      mutation — a misspelled id would otherwise expire the release it
      meant to protect, unrecoverably (manifests are deleted before
      the parked bytes drain);
    * ``dry_run=True`` reports what WOULD expire and how many parked
      files would drain, mutating nothing.

    Returns ``{"expired", "kept", "retired_files_removed"}`` (the
    ``dry_run`` report uses the same keys plus ``"dry_run": True``).
    """
    import pyarrow.fs as pafs

    keep_set = {str(k) for k in keep}
    if not keep_set and not expire_all:
        raise ValueError(
            "expire_releases: empty keep would expire EVERY release and "
            "drain all parked retention roots — pass expire_all=True to "
            "confirm, or name the releases to keep"
        )
    fs, base = _pafs_base(path, filesystem)
    all_ids = list_releases(path, filesystem)
    unknown = keep_set - set(all_ids)
    if unknown:
        raise ValueError(
            f"expire_releases: keep names release id(s) not recorded for "
            f"{path!r}: {sorted(unknown)} — refusing (a typo here would "
            f"expire the release it meant to protect); recorded: "
            f"{all_ids}"
        )
    doomed = [r for r in all_ids if r not in keep_set]
    kept = sorted(set(all_ids) & keep_set)
    # the post-expiry protected set comes from the KEPT manifests,
    # computed BEFORE any deletion — so the dry-run report and the live
    # GC decide from identical evidence
    still: set = set()
    for rid in kept:
        man = load_release(path, rid, filesystem)
        still.update(
            f["path"]
            for p in man["partitions"].values()
            for f in p["files"]
        )
    retired_base = f"{base}/{RETIRED_DIR}"
    try:
        infos = fs.get_file_info(
            pafs.FileSelector(retired_base, recursive=True)
        )
    except (FileNotFoundError, OSError):
        infos = []
    removable = [
        i.path
        for i in infos
        if i.type == pafs.FileType.File
        and i.path[len(retired_base) + 1 :] not in still
    ]
    if dry_run:
        return {
            "dry_run": True,
            "expired": doomed,
            "kept": kept,
            "retired_files_removed": len(removable),
        }
    for rid in doomed:
        fs.delete_file(f"{_releases_dir(base)}/release-{rid}.json")
    for p in removable:
        fs.delete_file(p)
    # sweep now-empty directory skeletons under .retired/ (deepest
    # first), including .retired/ itself once nothing survives in it
    remaining = {
        i.path
        for i in infos
        if i.type == pafs.FileType.File and i.path not in set(removable)
    }
    dirs = sorted(
        (i.path for i in infos if i.type == pafs.FileType.Directory),
        key=len,
        reverse=True,
    ) + ([retired_base] if infos else [])
    for d in dirs:
        if not any(f.startswith(d + "/") for f in remaining):
            try:
                fs.delete_dir(d)
            except (FileNotFoundError, OSError):
                pass  # a parent sweep already took it
    return {
        "expired": doomed,
        "kept": kept,
        "retired_files_removed": len(removable),
    }


def _releases_dir(base: str) -> str:
    parent, _, name = base.rpartition("/")
    if not parent:
        raise ValueError(
            f"release manifests live in the table's PARENT prefix; "
            f"nest the table one level down (got {base!r})"
        )
    return f"{parent}/.{name}.releases"


def _partition_key(rel: str) -> str:
    """First-level Hive component (``day=d0``), or ``""`` for files at
    the table root (unpartitioned tables get one "" partition)."""
    return rel.split("/", 1)[0] if "/" in rel else ""


def snapshot_release(
    path: str,
    release_id: str,
    filesystem=None,
    notes: str = "",
    spark=None,
    checksums: bool = False,
) -> dict:
    """Record release ``release_id`` of the table at ``path``: per
    first-level partition, the visible files as (rel_path, bytes,
    footer rows) plus a fingerprint; totals and a whole-release
    fingerprint on top. Writes the manifest (staged + rename) and
    returns it. Re-snapshotting an existing id raises — a release is
    immutable by definition; snapshot a new id instead.

    Footer reads: a driver loop by default (fine for maintenance-sized
    file counts), or DISTRIBUTED when a ``spark`` session is passed
    with a path/URI target — the file list fans out over executors and
    each reads its footers through a pyarrow filesystem resolved from
    the same path, so a million-file corpus snapshot costs one
    metadata read per file in parallel instead of a serial driver
    crawl (an injected ``filesystem=`` object can't ship to executors,
    so that configuration keeps the driver loop). Both routes produce
    byte-identical manifests (test-pinned).

    ``checksums=True`` (VERDICT r18 missing (b)) additionally records
    a full-byte sha256 per file, so ``verify_release(check_sums=True)``
    can catch SAME-SIZE bit-rot the (path, bytes, rows) triple cannot.
    Opt-in because it reads every byte of the release (the footer pass
    reads KB per file); it distributes over executors exactly like the
    footer pass when ``spark`` is given. Manifests without checksums
    (including every pre-r19 manifest) still verify size-only, loudly
    noted."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, base = _pafs_base(path, filesystem)
    # A typo'd path — or a table momentarily missing because a crashed
    # local staged swap left it under its .old-* backup — must NOT
    # produce a plausible-looking EMPTY release: a later diff against
    # it would report every partition "removed", certifying a mass
    # deletion that never happened. Loud failure is the only safe
    # behavior for an audit layer. (An existing-but-empty directory
    # still records an empty release — that is a real, consistent
    # state.)
    if fs.get_file_info(base).type == pafs.FileType.NotFound:
        raise FileNotFoundError(
            f"snapshot_release: no table at {path!r} — refusing to record "
            f"an empty release for a missing path (if a crashed staged "
            f"swap left the table under its .old-* backup, run the "
            f"maintenance tick's recovery first)"
        )
    infos = _recursive_infos(fs, base)
    # An unreplayed swap manifest (crashed — or worse, in-flight —
    # delete_where / compaction / SCD-2 / partition-scoped merge swap)
    # means the visible file set is MID-TRANSITION: snapshotting now
    # could record old and new files together and stamp a release
    # fingerprint no consistent table ever had. Refuse loudly; the
    # maintenance tick's entry recovery (or the racing writer
    # finishing) clears it. Every manifest namespace a writer can
    # commit must appear here — a namespace this guard misses lets a
    # release record exactly the inconsistent state it exists to
    # refuse.
    from .writers import MRG_MANIFEST_PREFIX

    pending = sorted(
        i.base_name
        for i in infos
        if "/" not in i.path[len(base) + 1 :]
        and i.base_name.endswith(".json")
        and (
            i.base_name.startswith(".delete-manifest-")
            or ".scd2-manifest-" in i.base_name
            or ".cmp-manifest-" in i.base_name
            or MRG_MANIFEST_PREFIX in i.base_name
        )
    )
    if pending:
        raise ValueError(
            f"snapshot_release: {path!r} has unreplayed swap manifest(s) "
            f"{pending} — the table is mid-swap (crashed or in-flight "
            f"maintenance); run the maintenance tick's recovery first so "
            f"the release records a consistent file set"
        )
    visible = _visible_parquet_files(fs, base, infos)
    if (
        any("/" in r for r in visible)
        and any("/" not in r for r in visible)
    ):
        # recording a mixed layout is honest (the listing is what it
        # is) but every pinned READ of it will refuse loudly — say so
        # at cause time (round 19)
        _log.warning(
            "snapshot_release: %r mixes root-level parquet files with "
            "partition dirs — Spark scans silently DROP the root-level "
            "rows, so read_release on this release will refuse; rewrite "
            "the table into one consistent layout",
            path,
        )
    sizes = {i.path[len(base) + 1 :]: i.size for i in infos if i.size}
    if spark is not None and filesystem is None and visible:
        stats_by_rel = _file_stats_distributed(
            spark, path, visible, checksums=checksums
        )
    else:
        stats_by_rel = None
    parts: dict[str, dict] = {}
    for rel in visible:
        if stats_by_rel is not None:
            rows = stats_by_rel[rel]["rows"]
            sha = stats_by_rel[rel]["sha256"]
        else:
            with fs.open_input_file(f"{base}/{rel}") as f:
                rows = pq.ParquetFile(f).metadata.num_rows
            sha = _sha256_of(fs, f"{base}/{rel}") if checksums else None
        p = parts.setdefault(
            _partition_key(rel), {"files": [], "rows": 0, "bytes": 0}
        )
        entry = {
            "path": rel, "bytes": int(sizes.get(rel, 0)), "rows": int(rows)
        }
        if sha is not None:
            entry["sha256"] = sha
        p["files"].append(entry)
        p["rows"] += int(rows)
        p["bytes"] += int(sizes.get(rel, 0))
    for p in parts.values():
        p["files"].sort(key=lambda e: e["path"])
        p["fingerprint"] = hashlib.sha256(
            "\n".join(
                f"{e['path']}|{e['bytes']}|{e['rows']}" for e in p["files"]
            ).encode()
        ).hexdigest()
    manifest = {
        "release": str(release_id),
        "table": path,
        "notes": notes,
        "partitions": dict(sorted(parts.items())),
        "total_rows": sum(p["rows"] for p in parts.values()),
        "total_bytes": sum(p["bytes"] for p in parts.values()),
        "total_files": len(visible),
        "fingerprint": hashlib.sha256(
            "\n".join(
                f"{k}|{parts[k]['fingerprint']}" for k in sorted(parts)
            ).encode()
        ).hexdigest(),
    }
    rdir = _releases_dir(base)
    final = f"{rdir}/release-{release_id}.json"
    import pyarrow.fs as pafs

    if fs.get_file_info(final).type != pafs.FileType.NotFound:
        raise ValueError(
            f"release {release_id!r} already recorded for {path!r} — "
            f"releases are immutable; snapshot a new id"
        )
    fs.create_dir(rdir, recursive=True)
    put_json(fs, f"{rdir}/.tmp-release-{release_id}", final, manifest, sort_keys=True)
    return manifest


def _sha256_of(fs, full: str) -> str:
    """Streaming sha256 of one file's bytes (1 MiB chunks — never the
    whole object in memory)."""
    h = hashlib.sha256()
    with fs.open_input_stream(full) as f:
        while True:
            chunk = f.read(1 << 20)
            if not chunk:
                break
            h.update(chunk)
    return h.hexdigest()


def _file_stats_distributed(
    spark, path: str, rels: list, checksums: bool = False
) -> dict:
    """Per-file footer row counts — and, opt-in, full-byte sha256
    checksums — as a Spark job: one task batch per ~2k files, each
    executor resolving its own pyarrow filesystem from ``path`` (URI
    or local — the same `_pafs_base` resolution as the driver).
    Returns ``{rel_path: {"rows": n, "sha256": hex|None}}``. The
    footer pass reads KB per file; the checksum pass reads every byte
    (that is its point — it is the bit-rot detector), which is why
    both it and its verification are opt-in."""

    def read_stats(batches):
        import hashlib as _hl

        import pandas as pd
        import pyarrow.parquet as pq

        from streampro_assignment_etl_spark.pipeline.writers import (
            _pafs_base as pafs_base,
        )

        fs2, base2 = pafs_base(path)
        for pdf in batches:
            counts, sums = [], []
            for rel in pdf["rel"]:
                with fs2.open_input_file(f"{base2}/{rel}") as f:
                    counts.append(pq.ParquetFile(f).metadata.num_rows)
                if checksums:
                    h = _hl.sha256()
                    with fs2.open_input_stream(f"{base2}/{rel}") as f:
                        while True:
                            chunk = f.read(1 << 20)
                            if not chunk:
                                break
                            h.update(chunk)
                    sums.append(h.hexdigest())
                else:
                    sums.append(None)
            yield pd.DataFrame(
                {"rel": pdf["rel"], "rows": counts, "sha": sums}
            )

    n_slices = max(1, (len(rels) + 1999) // 2000)
    df = spark.createDataFrame(
        [(r,) for r in rels], "rel string"
    ).repartition(n_slices)
    out = df.mapInPandas(
        read_stats, "rel string, rows long, sha string"
    ).collect()
    return {
        r["rel"]: {"rows": int(r["rows"]), "sha256": r["sha"]} for r in out
    }


def list_releases(path: str, filesystem=None) -> list[str]:
    """Recorded release ids for the table, sorted. Incomplete
    ``.tmp-*`` stagings from a crashed snapshot are invisible here
    (and harmless — the re-run overwrites the staging name)."""
    import pyarrow.fs as pafs

    fs, base = _pafs_base(path, filesystem)
    try:
        infos = fs.get_file_info(
            pafs.FileSelector(_releases_dir(base), recursive=False)
        )
    except (FileNotFoundError, OSError):
        return []
    out = []
    for i in infos:
        n = i.base_name
        if (
            i.type == pafs.FileType.File
            and n.startswith("release-")
            and n.endswith(".json")
        ):
            out.append(n[len("release-") : -len(".json")])
    return sorted(out)


def load_release(path: str, release_id: str, filesystem=None) -> dict:
    fs, base = _pafs_base(path, filesystem)
    final = f"{_releases_dir(base)}/release-{release_id}.json"
    with fs.open_input_stream(final) as f:
        return json.loads(f.read().decode())


def read_release(spark, path: str, release_id: str, filesystem=None):
    """A Spark frame over EXACTLY the files release ``release_id``
    recorded — the reproducibility contract a training job wants
    ("epoch 3 read release N, bit-for-bit"), and the cheap
    snapshot-read answer to the object-store swap's isolation caveat:
    a reader pinned to a manifest never sees a concurrent swap's
    mixed old+new listing, because it never lists.

    Retention: when the maintenance ops run with
    ``protect_releases=True``, an old file still referenced by a
    recorded release is PARKED under ``.retired/<rel>`` instead of
    deleted — this reader resolves each recorded rel to its live path
    if still visible, else to its retired twin, so a pinned read
    survives compaction and row-level deletes (two reads, each with
    the right ``basePath`` so Hive partition columns re-attach, then a
    union). A file found in NEITHER place — maintenance ran
    unprotected, or ``expire_releases`` reclaimed it — fails the read
    loudly, never silently returns a subset.

    Injected ``filesystem=`` targets (round 18 — symmetry with
    ``read_table_snapshot``'s bridge route): no Spark-readable URI
    exists, so the recorded rels are resolved live-then-retired off
    ONE listing and MIRRORED driver-locally (retired twins land at
    their ORIGINAL rel path in the mirror, so Hive partition columns
    re-attach without the union dance), then read from the mirror.
    O(release bytes) of driver I/O — right for the hermetic/moto
    lakes the bridge serves; a real object store should pass the
    ``s3://`` URI (zero-copy explicit-path pin). The missing-file
    loud-fail is identical: resolution happens before any download.
    Repeated pinned reads of the same release reuse one cached mirror
    (LRU-capped; ADVICE r18 #2)."""
    import pyarrow.fs as pafs

    if filesystem is not None:
        from pathlib import Path as _P

        man = load_release(path, release_id, filesystem)
        rels = sorted(
            f["path"] for p in man["partitions"].values() for f in p["files"]
        )
        fs, base = _pafs_base(path, filesystem)
        if not rels:
            seed = _visible_parquet_files(fs, base)[:1]
            if not seed:
                raise ValueError(
                    f"release {release_id!r} of {path!r} is empty and "
                    f"the table currently has no files to borrow a "
                    f"schema from — an empty release is diff-only until "
                    f"the table has data"
                )
            rels, empty = seed, True
        else:
            empty = False
        sizes = {
            i.path[len(base) + 1 :]: int(i.size or 0)
            for i in _recursive_infos(fs, base)
            if i.type == pafs.FileType.File
        }
        live = [r for r in rels if r in sizes]
        live_set = set(live)
        retired = [
            r
            for r in rels
            if r not in live_set and f"{RETIRED_DIR}/{r}" in sizes
        ]
        missing = sorted(set(rels) - live_set - set(retired))
        if missing:
            raise FileNotFoundError(
                f"read_release: release {release_id!r} names file(s) "
                f"that exist neither live nor retired (unprotected "
                f"maintenance, or expire_releases reclaimed them): "
                f"{missing[:5]}"
            )
        _refuse_mixed_layout(rels, f"read_release({release_id})", path)
        # retired twins mirror AS their original rel so the Hive
        # partition value re-attaches from the mirrored dir name
        pairs = [(r, r) for r in live] + [
            (f"{RETIRED_DIR}/{r}", r) for r in retired
        ]
        mirror = _P(_bridge_mirror(fs, base, pairs, sizes))
        df = spark.read.option("basePath", str(mirror)).parquet(
            *[str(mirror / r) for r in rels]
        )
        return df.limit(0) if empty else df

    man = load_release(path, release_id)
    rels = sorted(
        f["path"] for p in man["partitions"].values() for f in p["files"]
    )
    if not rels:
        # A legitimately-recorded EMPTY release (snapshot_release
        # accepts an existing-but-empty table as a real, consistent
        # state) round-trips as a zero-row frame — but it recorded no
        # files, so the only schema source is the CURRENT table
        # (honest caveat: if the schema drifted since the release, the
        # empty frame carries today's columns). With no current files
        # either, the release is diff-only and the read fails loudly
        # (ADVICE r16 #4 — never a silent wrong-schema guess).
        fs, base = _pafs_base(path)
        seed = _visible_parquet_files(fs, base)[:1]
        if not seed:
            raise ValueError(
                f"release {release_id!r} of {path!r} is empty and the "
                f"table currently has no files to borrow a schema from — "
                f"an empty release is diff-only until the table has data"
            )
        return _resolve_release_frame(spark, path, seed, what=release_id).limit(0)
    return _resolve_release_frame(spark, path, rels, what=release_id)


def _resolve_release_frame(spark, path: str, rels: list, what: str, present=None):
    """Spark frame over exactly ``rels`` (base-relative), each resolved
    live-first-then-``.retired/`` — the shared reader under
    ``read_release``, ``read_table_snapshot`` and ``release_row_delta``.
    Loud on files found in neither place. Resolution costs ONE
    recursive listing (pass ``present`` — the rel-path set of an
    already-taken listing — to pay zero), never one existence probe per
    file — at a million-file release the per-file HEADs would dominate
    the read's planning time."""
    import pyarrow.fs as pafs

    fs, base = _pafs_base(path)
    if present is None:
        present = {
            i.path[len(base) + 1 :]
            for i in _recursive_infos(fs, base)
            if i.type == pafs.FileType.File
        }
    live = [r for r in rels if r in present]
    live_set = set(live)
    retired = [
        r
        for r in rels
        if r not in live_set and f"{RETIRED_DIR}/{r}" in present
    ]
    missing = sorted(set(rels) - set(live) - set(retired))
    if missing:
        raise FileNotFoundError(
            f"read_release: release {what!r} names file(s) that "
            f"exist neither live nor retired (unprotected maintenance, "
            f"or expire_releases reclaimed them): {missing[:5]}"
        )
    # a mixed rel set reads as a SILENT SUBSET (Spark's partition
    # discovery drops root-level files beside partition dirs) — the
    # one failure mode a pinned read must never have (round 19)
    _refuse_mixed_layout(rels, f"read_release({what})", path)
    if path.startswith(("s3://", "s3n://")):
        root = "s3a://" + path.split("://", 1)[1]
    else:
        root = path
    df = None
    if live:
        df = spark.read.option("basePath", root).parquet(
            *[f"{root}/{r}" for r in live]
        )
    if retired:
        rdf = spark.read.option("basePath", f"{root}/{RETIRED_DIR}").parquet(
            *[f"{root}/{RETIRED_DIR}/{r}" for r in retired]
        )
        df = rdf if df is None else df.unionByName(rdf)
    return df


def read_table_snapshot(spark, path: str, filesystem=None):
    """Snapshot-isolated read of a LIVE table (VERDICT r16 #4 — the
    last isolation caveat): ONE recursive listing, filtered to the
    visible file set, read as EXACTLY that pinned set through the same
    resolver pinned release reads use. A plain ``spark.read.parquet``
    lists at plan time, so a reader racing a manifest swap's promote
    window (remote compaction, the SCD-2 remote sink) can see old and
    new files together — doubled rows. This reader can't: whatever
    instant its one listing observes, it reads exactly those files;
    staged dot-files are invisible before promote, and a listing taken
    pre-swap never includes the promoted twins.

    The pin lasts exactly as long as the listed files live: it is
    isolation for the PROMOTE WINDOW (where olds still exist beside
    the promoted twins — the caveat this closes), not durability. A
    swap that COMPLETES underneath the pin — deleting or parking the
    pinned files — fails the read loudly at scan time (Spark's
    missing-input error), never silently re-lists; resolution happens
    once, at pin time, so files parked AFTER the pin are not chased
    into ``.retired/``. For a pin durable across completed
    maintenance, record a release (``snapshot_release``) and use
    ``read_release``, which re-resolves live-then-retired at every
    call.

    Injected ``filesystem=`` targets (the hermetic/moto bridge, round
    18 — VERDICT r17 missing (c)): no Spark-readable URI exists, so
    the pin MIRRORS the one listing's visible set to a driver-local
    tempdir (Hive layout preserved; identical file sets reuse one
    cached mirror, LRU-capped at ``_MIRROR_CACHE_MAX`` with
    ``clear_release_mirrors()`` as the explicit cleanup — ADVICE r18
    #2) and reads that. A physical copy — O(table
    bytes) of driver I/O — which is right for the test-scale lakes
    this configuration serves and wrong for a real one: on a real
    object store pass the ``s3://`` URI and the connector route pins
    by explicit paths with zero copying. Isolation on the bridge is
    total (a completing swap can't touch the mirror), at the price
    that the pin holds even past the files' deletion — the loud-fail
    durability signal of the connector route does not exist here."""
    import pyarrow.fs as pafs

    if filesystem is not None:
        from pathlib import Path as _P

        fs, base = _pafs_base(path, filesystem)
        infos = _recursive_infos(fs, base)
        visible = _visible_parquet_files(fs, base, infos)
        if not visible:
            raise FileNotFoundError(
                f"read_table_snapshot: no visible parquet files under "
                f"{path!r} (missing table, or mid-swap with only staged "
                f"files — run recovery first)"
            )
        _refuse_mixed_layout(visible, "read_table_snapshot", path)
        sizes = {
            i.path[len(base) + 1 :]: int(i.size or 0)
            for i in infos
            if i.type == pafs.FileType.File
        }
        mirror = _P(
            _bridge_mirror(fs, base, [(r, r) for r in visible], sizes)
        )
        return spark.read.option("basePath", str(mirror)).parquet(
            *[str(mirror / r) for r in visible]
        )

    fs, base = _pafs_base(path)
    infos = _recursive_infos(fs, base)
    visible = _visible_parquet_files(fs, base, infos)
    if not visible:
        raise FileNotFoundError(
            f"read_table_snapshot: no visible parquet files under "
            f"{path!r} (missing table, or mid-swap with only staged "
            f"files — run recovery first)"
        )
    present = {
        i.path[len(base) + 1 :]
        for i in infos
        if i.type == pafs.FileType.File
    }
    return _resolve_release_frame(
        spark, path, visible, what="table-snapshot", present=present
    )


def release_row_delta(
    spark, path: str, release_a: str, release_b: str, key_cols
):
    """Row-level audit of what changed between two releases: one row
    per DISTINCT ``key_cols`` value that entered or left (plus
    ``_change`` ∈ added/removed), derived from the PINNED file sets so
    it is exact even after later maintenance (files resolve
    live-then-retired like ``read_release``).

    Scale shape: the manifest diff prunes FIRST — partitions whose
    file sets are identical in both releases cannot contribute a row
    delta and are never read, so the two anti-joins shuffle only the
    changed partitions' rows (a release that rewrote one day of a
    100 TB corpus reads one day twice, not the corpus). Pruning is
    applied ONLY when it is sound (ADVICE r16 #1): an unchanged
    partition proves its own ROWS didn't change, not that a KEY living
    partly elsewhere didn't — a key with rows in both a changed and an
    unchanged partition would misreport (a user deleted from day=1 but
    alive in day=2 must not read "removed"). Soundness conditions, in
    order of how much they prune:

    * LEAF granularity (round 19, multi-level layouts): when the
      recorded file paths form a consistent Hive layout and EVERY
      partition column (all levels) is among ``key_cols``, each key's
      rows live in exactly one leaf — so only leaves whose recorded
      (path, bytes, rows) triples differ between the releases are
      read: a date/hour lake whose release rewrote one hour reads one
      hour twice, not one date. Derived purely from the manifests
      already on disk (per-leaf grouping of the recorded triples), no
      manifest schema change — pre-r19 manifests prune at leaf
      granularity too.
    * FIRST-level granularity (r16): the first-level column is among
      ``key_cols`` — prune to first-level partitions whose manifest
      fingerprints differ.
    * Otherwise the delta reads the FULL pinned file sets of both
      releases — still exact, just unpruned; include the partition
      column(s) in ``key_cols`` to get the pruned plan.

    Keys absent from a side classify as added/removed; a key present
    in both with different non-key columns does NOT surface (this is a
    membership audit — pair it with a content hash column upstream if
    field-level drift matters)."""
    from pyspark.sql import functions as F

    from .writers import _detect_hive_cols

    key_cols = list(key_cols)
    man_a = load_release(path, release_a)
    man_b = load_release(path, release_b)
    d = diff_releases(man_a, man_b)
    part_keys = set(man_a["partitions"]) | set(man_b["partitions"])
    hive_cols = {k.split("=", 1)[0] for k in part_keys if k and "=" in k}
    all_rels = [
        f["path"]
        for man in (man_a, man_b)
        for p in man["partitions"].values()
        for f in p["files"]
    ]
    layout_cols = _detect_hive_cols(all_rels)
    leaf_sound = (
        layout_cols is not None
        and len(layout_cols) > 1
        and all(c in key_cols for c in layout_cols)
    )
    prune_sound = not hive_cols or (
        len(hive_cols) == 1 and next(iter(hive_cols)) in key_cols
    )
    if leaf_sound:
        # per-leaf triple sets computed from the recorded entries — an
        # unchanged leaf's files are identical (path, bytes, rows)
        # triples in both manifests (the immutable-file argument, one
        # level deeper than the recorded first-level fingerprints)
        def _by_leaf(man):
            out: dict = {}
            for p in man["partitions"].values():
                for f in p["files"]:
                    leaf = f["path"].rsplit("/", 1)[0]
                    out.setdefault(leaf, set()).add(
                        (f["path"], int(f["bytes"]), int(f["rows"]))
                    )
            return out

        la, lb = _by_leaf(man_a), _by_leaf(man_b)
        changed_leaves = {
            k for k in set(la) | set(lb) if la.get(k) != lb.get(k)
        }

        def _rels(man):
            return sorted(
                f["path"]
                for p in man["partitions"].values()
                for f in p["files"]
                if f["path"].rsplit("/", 1)[0] in changed_leaves
            )

    else:
        if prune_sound:
            changed = (
                set(d["added"]) | set(d["removed"]) | set(d["rewritten"])
            )
        else:
            changed = part_keys

        def _rels(man):
            return sorted(
                f["path"]
                for k, p in man["partitions"].items()
                if k in changed
                for f in p["files"]
            )

    rels_a, rels_b = _rels(man_a), _rels(man_b)
    if not rels_a and not rels_b:
        # identical releases: a correctly-typed empty delta — schema
        # borrowed from any release file (releases of an empty table
        # degrade to an all-string schema, the only one available)
        seed = sorted(
            f["path"]
            for p in man_a["partitions"].values()
            for f in p["files"]
        )[:1]
        zero = (
            _resolve_release_frame(spark, path, seed, what=release_a)
            .select(*key_cols)
            .limit(0)
            if seed
            else spark.createDataFrame(
                [], ", ".join(f"{c} string" for c in key_cols)
            )
        )
        return zero.withColumn("_change", F.lit("removed")).limit(0)
    # distinct BEFORE the anti-joins: this is a membership audit, so
    # the output is one row per key, and the partial (map-side)
    # aggregate shrinks the shuffle to the key cardinality — a
    # duplicate-keyed corpus would otherwise emit one 'removed' row
    # per source ROW and shuffle the whole changed slice
    a = (
        _resolve_release_frame(spark, path, rels_a, what=release_a)
        .select(*key_cols)
        .distinct()
        if rels_a
        else None
    )
    b = (
        _resolve_release_frame(spark, path, rels_b, what=release_b)
        .select(*key_cols)
        .distinct()
        if rels_b
        else None
    )
    if a is None:
        a = b.limit(0)
    if b is None:
        b = a.limit(0)
    removed = a.join(b, key_cols, "left_anti").withColumn(
        "_change", F.lit("removed")
    )
    added = b.join(a, key_cols, "left_anti").withColumn(
        "_change", F.lit("added")
    )
    return removed.unionByName(added)


def verify_release(
    path: str,
    release_id: str,
    filesystem=None,
    check_rows: bool = False,
    check_sums: bool = False,
    spark=None,
) -> dict:
    """Integrity fsck of a recorded release — audit the audit layer.
    ``read_release`` fails loudly at READ time when a pinned file is
    gone; this is the cheap PROACTIVE check an operator schedules so
    unprotected maintenance, expiry mistakes, or plain bit-rot surface
    before a training job trips over them. For every file the manifest
    records: resolve live-then-``.retired/`` off ONE listing, compare
    the observed byte size against the recorded one, and opt-in:

    * ``check_rows=True`` — re-read each resolved file's parquet
      FOOTER and compare row counts (footers only, never data pages —
      KB per file);
    * ``check_sums=True`` — recompute each resolved file's sha256 and
      compare against the one ``snapshot_release(checksums=True)``
      recorded, catching SAME-SIZE bit-rot the (path, bytes, rows)
      triple cannot (VERDICT r18 missing (b)). Reads every byte.
      Files whose manifest entry carries no checksum (pre-r19
      manifests, or a snapshot taken without ``checksums=True``) are
      counted in ``files_without_checksum`` and warned about loudly —
      they still verify size-only; absence is not damage.

    Returns ``{"ok", "files", "live", "retired", "missing",
    "size_mismatches", "row_mismatches", "sum_mismatches",
    "files_without_checksum"}``; ``ok`` is True only when every file
    resolves with the recorded size (and rows/sums, where checked and
    recorded).

    Scale shape: one recursive listing + manifest arithmetic. The
    opt-in row/checksum passes run as a DISTRIBUTED Spark job when a
    ``spark`` session is passed with a path/URI target (VERDICT r18
    wrong #1 — the same executor fan-out ``snapshot_release`` already
    uses, so a million-file fsck is one parallel metadata read per
    file, not a serial driver crawl); an injected ``filesystem=``
    can't ship to executors, so that configuration keeps the driver
    loop. Both routes return identical reports (test-pinned)."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    man = load_release(path, release_id, filesystem)
    fs, base = _pafs_base(path, filesystem)
    sizes = {
        i.path[len(base) + 1 :]: i.size
        for i in _recursive_infos(fs, base)
        if i.type == pafs.FileType.File
    }
    live, retired, missing = [], [], []
    size_mismatches, row_mismatches, sum_mismatches = [], [], []
    no_checksum = []
    to_check: list = []  # (manifest entry, resolved rel)
    for part in man["partitions"].values():
        for f in part["files"]:
            rel = f["path"]
            if rel in sizes:
                resolved, where = rel, live
            elif f"{RETIRED_DIR}/{rel}" in sizes:
                resolved, where = f"{RETIRED_DIR}/{rel}", retired
            else:
                missing.append(rel)
                continue
            where.append(rel)
            got = int(sizes[resolved])
            if got != int(f["bytes"]):
                size_mismatches.append(
                    {"path": rel, "recorded": int(f["bytes"]), "found": got}
                )
                continue  # a size mismatch already damns the file
            if check_sums and f.get("sha256") is None:
                no_checksum.append(rel)
            if check_rows or (check_sums and f.get("sha256") is not None):
                to_check.append((f, resolved))
    if to_check:
        want_sums = check_sums and any(
            f.get("sha256") is not None for f, _ in to_check
        )
        if spark is not None and filesystem is None:
            stats = _file_stats_distributed(
                spark, path, [res for _, res in to_check],
                checksums=want_sums,
            )
        else:
            stats = {}
            for _, res in to_check:
                with fs.open_input_file(f"{base}/{res}") as h:
                    rows = pq.ParquetFile(h).metadata.num_rows
                stats[res] = {
                    "rows": int(rows),
                    "sha256": (
                        _sha256_of(fs, f"{base}/{res}") if want_sums else None
                    ),
                }
        for f, res in to_check:
            if check_rows and stats[res]["rows"] != int(f["rows"]):
                row_mismatches.append(
                    {
                        "path": f["path"],
                        "recorded": int(f["rows"]),
                        "found": stats[res]["rows"],
                    }
                )
            if (
                check_sums
                and f.get("sha256") is not None
                and stats[res]["sha256"] != f["sha256"]
            ):
                sum_mismatches.append(
                    {
                        "path": f["path"],
                        "recorded": f["sha256"],
                        "found": stats[res]["sha256"],
                    }
                )
    if no_checksum:
        _log.warning(
            "verify_release: %d file(s) of release %r carry no recorded "
            "checksum (pre-checksum manifest?) — they verified size-only; "
            "re-snapshot with checksums=True for bit-rot coverage. "
            "Sample: %s",
            len(no_checksum), release_id, no_checksum[:3],
        )
    return {
        "release": str(release_id),
        "ok": not (
            missing or size_mismatches or row_mismatches or sum_mismatches
        ),
        "files": int(man["total_files"]),
        "live": len(live),
        "retired": len(retired),
        "missing": sorted(missing),
        "size_mismatches": size_mismatches,
        "row_mismatches": row_mismatches,
        "sum_mismatches": sum_mismatches,
        "files_without_checksum": sorted(no_checksum),
        "rows_checked": bool(check_rows),
        "sums_checked": bool(check_sums),
    }


def diff_releases(man_a: dict, man_b: dict) -> dict:
    """Exact partition-level diff of two release manifests (A → B):
    ``added`` (in B only), ``removed`` (in A only), ``rewritten``
    (both, fingerprint differs), ``unchanged`` — each a sorted dict of
    ``partition → {"rows_before", "rows_after"}`` (0 for the absent
    side). Plus row/byte totals. Pure manifest arithmetic — no table
    I/O, so diffing 100 TB releases costs KB."""
    pa, pb = man_a["partitions"], man_b["partitions"]
    out = {"added": {}, "removed": {}, "rewritten": {}, "unchanged": {}}
    for k in sorted(set(pa) | set(pb)):
        before = pa.get(k, {}).get("rows", 0)
        after = pb.get(k, {}).get("rows", 0)
        entry = {"rows_before": before, "rows_after": after}
        if k not in pa:
            out["added"][k] = entry
        elif k not in pb:
            out["removed"][k] = entry
        elif pa[k]["fingerprint"] != pb[k]["fingerprint"]:
            out["rewritten"][k] = entry
        else:
            out["unchanged"][k] = entry
    out["release_before"] = man_a["release"]
    out["release_after"] = man_b["release"]
    out["rows_before"] = man_a["total_rows"]
    out["rows_after"] = man_b["total_rows"]
    out["bytes_before"] = man_a["total_bytes"]
    out["bytes_after"] = man_b["total_bytes"]
    return out
