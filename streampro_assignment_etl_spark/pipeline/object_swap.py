"""Manifest-driven staged file-set swap for object-store tables.

POSIX maintenance ops in this repo (the SCD-2 bucketed sink's
per-bucket swap, ``compact_parquet``'s whole-table swap) commit via
atomic DIRECTORY renames — a primitive object stores don't have:
pyarrow's ``S3FileSystem.move`` works for files (server-side
CopyObject + delete) and fails for directories (measured against the
moto wire protocol). The store-agnostic equivalent is the pattern
``delete_where`` (pipeline/writers.py) proved end-to-end on S3:

1. write every replacement file under a HIDDEN dot name first — a
   parquet file visible under its dot name is complete, because it
   was uploaded whole from a finished local write (readers ignore
   dot/underscore paths, so nothing is ever served half-written);
2. commit a manifest (itself staged + renamed — file moves ARE atomic
   enough on both stores: local rename is POSIX-atomic, S3's
   copy+delete leaves either the old name or both, and replay
   tolerates both) listing every (old → staged → final) transition;
3. replay the manifest: promote each staged file to its final visible
   name, then delete the old files, then drop the manifest.

A hard crash anywhere leaves a state ``recover_object_swap`` converges
from: no manifest → only invisible debris (swept, token-validated so
foreign dot-files are never destroyed — the ADVICE r15 #4 rule);
manifest present → replay is idempotent (promote what still sits under
a staged name, delete what's still under an old name, drop the
manifest). Single-writer maintenance contract, like every swap in this
repo.

Consumers namespace their artifacts via prefixes so recoveries don't
claim each other's debris:

* SCD-2 bucketed sink: ``.scd2-manifest-`` / ``.scd2-`` / ``.scd2stage-``
* remote compaction:    ``.cmp-manifest-``  / ``.cmp-``  / ``.cmpstage-``

The same module owns the lifecycle seam the persisted ANN index
(``operators/ann_index.py``) and the fuzzy-dedup signature store
(``streaming/fuzzy_store_ingest.py``) share, so a hardening lands in
both at once:

* ``new_token`` / ``is_token`` — the one 12-hex token every staging,
  trash and manifest name embeds;
* ``put_json`` — stage-then-rename for every JSON artifact;
* ``list_epochs`` / ``read_latest`` / ``commit_epoch`` — the
  rename-committed, epoch-fenced ``<prefix><epoch:012d>-<token>.json``
  manifest log;
* ``write_tombstone``, ``swap_dir`` and ``recover_swap_dirs`` — the
  takedown's id list, its live → trash → staged dir swap, and the
  crash-recovery sweep over that swap's debris;
* ``sweep_superseded`` — the min-age-graced retention sweep.

≙ reference: none (the reference's MinIO client has no transactional
write path; this is the 100 TB lifecycle layer).
"""

from __future__ import annotations

import json
import logging
import re
import uuid

from .writers import _fs_exists, _pafs_base, _recursive_infos

_log = logging.getLogger(__name__)

# every swap token is uuid4().hex[:12]; recovery keys on the shape so
# foreign dot-files sharing a prefix are skipped, never parsed or swept
_TOKEN_RE = re.compile(r"[0-9a-f]{12}")

TOMBSTONE_PREFIX = "tombstone-"  # takedown id lists: tombstone-<token>.json

# Hidden parking area for old files a recorded release still references
# (pipeline/release.py re-exports this): a protected swap MOVES them
# here instead of deleting, preserving the rel layout so read_release
# can resolve them and expire_releases can garbage-collect them.
# Canonical definition lives in writers.py (the local directory swap
# carries it across); this is the mechanism-layer name.
from .writers import RETIRED_DIR_NAME as RETIRED_DIR  # noqa: E402


def _retire(fs, base: str, rel: str) -> None:
    """Park ``rel`` under ``.retired/<rel>`` (idempotent: an already-
    retired twin from a replayed manifest wins; the live duplicate is
    dropped)."""
    src = f"{base}/{rel}"
    dst = f"{base}/{RETIRED_DIR}/{rel}"
    if _fs_exists(fs, dst):
        fs.delete_file(src)
        return
    parent = dst.rsplit("/", 1)[0]
    fs.create_dir(parent, recursive=True)
    fs.move(src, dst)


def new_token() -> str:
    """A fresh lifecycle token: ``uuid4().hex[:12]``."""
    return uuid.uuid4().hex[:12]


def is_token(s: str) -> bool:
    return _TOKEN_RE.fullmatch(s) is not None


def _token_of(name: str, prefix: str) -> str | None:
    """The 12-hex token embedded right after ``prefix`` in ``name``
    (``<prefix><token>`` or ``<prefix><token>-…`` or
    ``<prefix><token>.json``), or None when the shape doesn't match."""
    rest = name[len(prefix) :]
    tok = rest[:12]
    if not is_token(tok):
        return None
    tail = rest[12:]
    if tail and not tail.startswith(("-", ".")):
        return None
    return tok


def put_json(fs, staging: str, final: str, doc, **dumps_kw) -> None:
    """Write ``doc`` as JSON under the hidden ``staging`` name, then
    rename it to ``final`` — readers and recovery sweeps only ever see
    a complete document or none (local rename is atomic; S3's
    copy+delete leaves the old name or both). Each caller keeps its own
    staging name: the recovery sweeps key on those names."""
    with fs.open_output_stream(staging) as out:
        out.write(json.dumps(doc, **dumps_kw).encode())
    fs.move(staging, final)


def list_epochs(fs, base: str, prefix: str) -> list[tuple[int, str]]:
    """Committed ``<prefix><epoch>-<token>.json`` files directly under
    ``base`` as (epoch, filename), ascending. ``.tmp-`` stagings and
    names whose epoch is not an integer are never listed, so a crash
    mid-commit leaves only debris no reader matches."""
    import pyarrow.fs as pafs

    try:
        infos = fs.get_file_info(pafs.FileSelector(base, recursive=False))
    except (FileNotFoundError, OSError):
        return []
    out = []
    for i in infos:
        n = i.base_name
        if (
            i.type != pafs.FileType.File
            or not n.startswith(prefix)
            or not n.endswith(".json")
        ):
            continue
        try:
            out.append((int(n[len(prefix) :].split("-", 1)[0]), n))
        except ValueError:
            continue
    return sorted(out)


def read_latest(fs, base: str, prefix: str) -> dict | None:
    """The highest-epoch committed manifest document, or None when the
    log is empty."""
    manifests = list_epochs(fs, base, prefix)
    if not manifests:
        return None
    with fs.open_input_stream(f"{base}/{manifests[-1][1]}") as f:
        return json.loads(f.read().decode())


def commit_epoch(path: str, prefix: str, doc: dict, expect_epoch: int) -> int:
    """Fence, then commit ``doc`` (whose ``"epoch"`` must be
    ``expect_epoch + 1``) as a fresh write-once
    ``<prefix><epoch:012d>-<token>.json``, staged under ``.tmp-<token>``
    and committed by rename. The fence re-lists the log immediately
    before writing and raises if its highest committed epoch is no
    longer ``expect_epoch`` — a concurrent writer committed since this
    one loaded its snapshot, and publishing now would silently drop
    that writer's work. Detection, not locking: a true simultaneous
    double-commit at one epoch is last-listed-wins, but every
    sequential interleave (the realistic cron overlap) raises.

    Deliberately not a Spark job: a KB-sized document through the job
    machinery costs ~1 s per commit, this pyarrow write milliseconds.
    Returns the committed epoch."""
    new_epoch = expect_epoch + 1
    if doc.get("epoch") != new_epoch:
        raise ValueError(
            f"manifest doc carries epoch {doc.get('epoch')}, expected {new_epoch}"
        )
    fs, base = _pafs_base(path)
    manifests = list_epochs(fs, base, prefix)
    current = manifests[-1][0] if manifests else 0
    if current != expect_epoch:
        raise RuntimeError(
            f"{path} moved from epoch {expect_epoch} to {current} since this "
            f"writer loaded it — a concurrent writer committed first. "
            f"Aborting instead of overwriting its work; reload and retry. "
            f"(Single-writer contract; this fence detects sequential "
            f"interleaves, it is not a lock.)"
        )
    token = new_token()
    fs.create_dir(base, recursive=True)
    put_json(
        fs, f"{base}/.tmp-{token}", f"{base}/{prefix}{new_epoch:012d}-{token}.json", doc
    )
    return new_epoch


def write_tombstone(fs, base: str, ids: list[int], token: str) -> str:
    """Commit a ``tombstone-<token>.json`` id list at ``base`` (staged
    under ``.tmp-<token>``, then renamed); returns its filename."""
    name = f"{TOMBSTONE_PREFIX}{token}.json"
    fs.create_dir(base, recursive=True)
    put_json(fs, f"{base}/.tmp-{token}", f"{base}/{name}", {"ids": ids})
    return name


def swap_dir(fs, live: str, staged: str, trash: str) -> None:
    """Replace dir ``live`` with dir ``staged``: live → trash, staged →
    live (skipped when nothing was staged — every row was doomed), drop
    the trash. Each move is atomic, so a hard crash leaves trash WITH a
    live dir (swap done) or trash WITHOUT one (the live rows are
    stranded in the trash) — the two states ``recover_swap_dirs``
    drops and restores."""
    fs.move(live, trash)
    if _fs_exists(fs, staged):
        fs.move(staged, live)
    fs.delete_dir(trash)


def _token_rest(name: str, prefix: str) -> str | None:
    """``<rest>`` of ``<prefix><12-hex token>-<rest>``; None when the
    token doesn't parse or the rest is empty."""
    tok, _, rest = name[len(prefix) :].partition("-")
    return rest if is_token(tok) and rest else None


def recover_swap_dirs(
    fs,
    root: str,
    trash_prefix: str,
    stage_prefix: str,
    live_of,
    stage_named: bool,
) -> tuple[list[str], list[str], list[str]]:
    """Crash recovery for ``swap_dir`` debris directly under ``root``.
    ``<trash_prefix><token>-<enc>`` trash dirs are restored to
    ``root/live_of(enc)`` when that live dir is missing (parents
    created) and dropped when it exists; ``<stage_prefix><token>``
    staging dirs (``<stage_prefix><token>-<name>`` when
    ``stage_named``) are swept. A dir whose token is not 12-hex is not
    ours: it is skipped with a warning, never parsed or destroyed.
    Returns (restored live rels, dropped live rels, swept dir names),
    in listing order. Single-writer maintenance contract."""
    import pyarrow.fs as pafs

    restored, dropped, swept = [], [], []
    try:
        infos = fs.get_file_info(pafs.FileSelector(root, recursive=False))
    except (FileNotFoundError, OSError):
        return restored, dropped, swept
    for i in infos:
        n = i.base_name
        if i.type != pafs.FileType.Directory:
            continue
        if n.startswith(trash_prefix):
            enc = _token_rest(n, trash_prefix)
            if enc is None:
                _log.warning("skipping %r — not a swap trash dir (no 12-hex token)", n)
                continue
            rel = live_of(enc)
            live = f"{root}/{rel}"
            if _fs_exists(fs, live):
                fs.delete_dir(f"{root}/{n}")
                dropped.append(rel)
            else:
                fs.create_dir(live.rsplit("/", 1)[0], recursive=True)
                fs.move(f"{root}/{n}", live)
                restored.append(rel)
        elif n.startswith(stage_prefix):
            ok = (
                _token_rest(n, stage_prefix) is not None
                if stage_named
                else is_token(n[len(stage_prefix) :])
            )
            if not ok:
                _log.warning("skipping %r — not a swap staging dir (no 12-hex token)", n)
                continue
            fs.delete_dir(f"{root}/{n}")
            swept.append(n)
    return restored, dropped, swept


def sweep_superseded(fs, base: str, superseded, min_age_seconds: float) -> list[str]:
    """Retention sweep of ``base``'s direct entries: delete every one
    ``superseded(info)`` approves whose mtime is older than
    ``min_age_seconds`` (younger ones may still be read or written —
    the grace horizon of table-format snapshot expiry). Returns the
    deleted names, sorted."""
    import time

    import pyarrow.fs as pafs

    now = time.time()
    doomed = [
        i
        for i in fs.get_file_info(pafs.FileSelector(base, recursive=False))
        if superseded(i)
        and not (i.mtime is not None and now - i.mtime.timestamp() < min_age_seconds)
    ]
    for i in doomed:
        if i.type == pafs.FileType.Directory:
            fs.delete_dir(i.path)
        else:
            fs.delete_file(i.path)
    return sorted(i.base_name for i in doomed)


def commit_object_swap(
    fs, base: str, entries: list[dict], token: str, manifest_prefix: str
) -> None:
    """Commit a prepared swap: every ``staged`` file in ``entries`` is
    already uploaded under its hidden name. Writes the staged+renamed
    manifest, promotes staged → final, deletes old files, drops the
    manifest. Entry shape: ``{"old": [rel...], "staged": [rel...],
    "final": [rel...]}`` with staged[i] ↔ final[i]; extra keys (e.g.
    ``bucket``) ride along for the consumer's bookkeeping."""
    man = f"{base}/{manifest_prefix}{token}.json"
    put_json(fs, f"{base}/.tmp-{manifest_prefix.strip('.')}{token}", man, entries)
    _replay(fs, base, entries)
    fs.delete_file(man)


def _replay(fs, base: str, entries: list[dict]) -> None:
    """Idempotent manifest replay: promote surviving staged files,
    then — once the replacements are all in place — delete old files,
    or PARK the ones the manifest marked ``retire`` (release-protected;
    see ``_retire``). The split is recorded IN the manifest at commit
    time, so a crash replay makes the same decisions the original
    commit would have."""
    for e in entries:
        for s, f in zip(e["staged"], e["final"]):
            if _fs_exists(fs, f"{base}/{s}"):
                fs.move(f"{base}/{s}", f"{base}/{f}")
        if all(_fs_exists(fs, f"{base}/{f}") for f in e["final"]):
            for o in e["old"]:
                if _fs_exists(fs, f"{base}/{o}"):
                    fs.delete_file(f"{base}/{o}")
            for r in e.get("retire", []):
                if _fs_exists(fs, f"{base}/{r}"):
                    _retire(fs, base, r)


def recover_object_swap(
    path: str,
    filesystem=None,
    *,
    manifest_prefix: str,
    staged_file_prefix: str,
    stage_dir_prefix: str,
    _infos=None,
    grace_s: float = 0.0,
) -> bool:
    """Finish (or unwind) a crashed swap under ``path`` and sweep its
    orphaned staging debris. Post-manifest crash: replay every
    manifest found at the table root. Pre-manifest crash: staged
    ``<staged_file_prefix><token>-…`` dot-files, ``.tmp-…<token>``
    manifest stagings, and ``<stage_dir_prefix><token>`` Spark staging
    dirs are unreferenced — swept, but ONLY when their token parses as
    12-hex (foreign artifacts are skipped with a warning, never
    destroyed). Returns True if anything was replayed or swept. Run at
    every consumer's operation entry; single-writer contract.

    ``grace_s`` (ADVICE r18 #1): the debris SWEEP — never the manifest
    replay — skips artifacts whose newest mtime (for a staging dir,
    the newest entry anywhere beneath it, not the dir's own mtime)
    falls inside the window, so a maintenance tick racing a concurrent
    writer's in-flight staging cannot rmtree it mid-write. The tick
    passes 15 min; the default 0 keeps op-entry sweeps eager (the op
    owns its namespace)."""
    import time

    import pyarrow.fs as pafs

    from .writers import _debris_age_s, _mtime_s

    fs, base = _pafs_base(path, filesystem)
    infos = _recursive_infos(fs, base) if _infos is None else _infos
    tmp_prefix = f".tmp-{manifest_prefix.strip('.')}"
    manifests = sorted(
        i.path
        for i in infos
        if i.type == pafs.FileType.File
        and "/" not in i.path[len(base) + 1 :]
        and i.base_name.startswith(manifest_prefix)
        and i.base_name.endswith(".json")
    )
    replayed = False
    for man in manifests:
        name = man.rsplit("/", 1)[-1]
        if _token_of(name, manifest_prefix) is None:
            _log.warning(
                "recover_object_swap: skipping %r — manifest name has no "
                "12-hex token", name,
            )
            continue
        with fs.open_input_stream(man) as f:
            entries = json.loads(f.read().decode())
        _replay(fs, base, entries)
        fs.delete_file(man)
        replayed = True
    now = time.time()
    doomed_files, doomed_dirs = [], []
    for i in infos:
        n = i.base_name
        if i.type == pafs.FileType.File:
            if (
                n.startswith(staged_file_prefix)
                and n.endswith(".parquet")
                and _token_of(n, staged_file_prefix) is not None
            ) or (
                n.startswith(tmp_prefix)
                and _token_of(n, tmp_prefix) is not None
            ):
                m = _mtime_s(i)
                if m is not None and now - m < grace_s:
                    continue  # possibly an in-flight writer's staging
                doomed_files.append(i.path)
        elif i.type == pafs.FileType.Directory:
            if n.startswith(stage_dir_prefix) and (
                _token_of(n, stage_dir_prefix) is not None
            ):
                if _debris_age_s(infos, i.path, now) < grace_s:
                    continue
                doomed_dirs.append(i.path)
    # replay only promotes staged files it then deletes or finalizes,
    # so the pre-replay listing cannot name anything replay re-created
    for d in doomed_dirs:
        fs.delete_dir(d)
    for f in doomed_files:
        if _fs_exists(fs, f):  # may have lived inside a swept dir
            fs.delete_file(f)
    return replayed or bool(doomed_files) or bool(doomed_dirs)


def download_rels(fs, base: str, rels, dest_dir) -> None:
    """Mirror base-relative files into ``dest_dir`` preserving the
    relative (Hive) layout — the driver-local bridge every
    connector-less Spark read in this repo uses (delete_where, the
    remote compactors, the remote SCD-2 sink). O(bytes listed) driver
    I/O by design; callers bound ``rels`` to the touched file set."""
    import shutil
    from pathlib import Path

    for r in rels:
        dst = Path(dest_dir) / r
        dst.parent.mkdir(parents=True, exist_ok=True)
        with fs.open_input_stream(f"{base}/{r}") as s, open(dst, "wb") as o:
            shutil.copyfileobj(s, o)


def stage_remote_tree(
    fs, base: str, stage_rel: str, token: str, staged_file_prefix: str
) -> list[tuple[str, str]]:
    """Convert a finished REMOTE Spark write at ``<base>/<stage_rel>``
    (the connector route: Spark wrote the tree itself) into hidden
    staged files beside their final homes: each visible parquet file
    moves to ``<its-rel-dir>/<prefix><token>-<j>.parquet``, the stage
    dir is dropped, and the sorted ``[(staged_rel, final_rel), ...]``
    pairs come back — the same contract ``upload_tree_staged`` gives
    the bridge route, so commit/replay code never knows which route
    produced the staging."""
    import pyarrow.fs as pafs

    files = sorted(
        (
            i
            for i in fs.get_file_info(
                pafs.FileSelector(f"{base}/{stage_rel}", recursive=True)
            )
            if i.type == pafs.FileType.File
            and i.base_name.endswith(".parquet")
            and not i.base_name.startswith((".", "_"))
        ),
        key=lambda x: x.path,
    )
    pairs = []
    for j, fi in enumerate(files):
        rel_in_stage = fi.path[len(base) + len(stage_rel) + 2 :]
        pdir = rel_in_stage.rsplit("/", 1)[0] if "/" in rel_in_stage else ""
        pfx = f"{pdir}/" if pdir else ""
        staged = f"{pfx}{staged_file_prefix}{token}-{j}.parquet"
        final = (
            f"{pfx}part-{staged_file_prefix.strip('.')}{token}-{j}.parquet"
        )
        if pdir:  # a NEW partition's dir doesn't exist yet on a local
            fs.create_dir(f"{base}/{pdir}", recursive=True)  # fs; no-op on S3
        fs.move(fi.path, f"{base}/{staged}")
        pairs.append((staged, final))
    fs.delete_dir(f"{base}/{stage_rel}")
    return pairs


def upload_tree_staged(
    fs,
    base: str,
    local_dir,
    token: str,
    staged_file_prefix: str,
    rel_of=lambda p, local_dir: str(p.relative_to(local_dir)),
) -> list[tuple[str, str]]:
    """Upload every ``part-*.parquet`` under ``local_dir`` (a finished
    local Spark write, Hive layout preserved) to ``base`` under hidden
    staged names, returning ``[(staged_rel, final_rel), ...]`` sorted.
    The final name embeds the token so successive swaps never collide;
    the staged name is the dot-prefixed twin in the same directory, so
    the promote is a same-prefix move (server-side copy on S3)."""
    import shutil
    from pathlib import Path

    local_dir = Path(local_dir)
    out = []
    parts = sorted(
        p for p in local_dir.rglob("part-*.parquet") if p.is_file()
    )
    for i, p in enumerate(parts):
        rel_dir = rel_of(p.parent, local_dir)
        pfx = f"{rel_dir}/" if rel_dir not in ("", ".") else ""
        staged = f"{pfx}{staged_file_prefix}{token}-{i}.parquet"
        final = f"{pfx}part-{staged_file_prefix.strip('.')}{token}-{i}.parquet"
        if pfx:  # a NEW partition's dir doesn't exist yet on a local
            fs.create_dir(f"{base}/{pfx.rstrip('/')}", recursive=True)
        with open(p, "rb") as src, fs.open_output_stream(
            f"{base}/{staged}"
        ) as dst:
            shutil.copyfileobj(src, dst)
        out.append((staged, final))
    return out
