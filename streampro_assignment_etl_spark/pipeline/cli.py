"""CLI / job runner (SURVEY §3.1; ≙ /root/reference/src/core/job_manager.py:19-152
and src/jobs/pipeline.py:18-67).

Argparse surface mirrors the reference (``--env``, ``--ingestion_date``,
``--debug``) plus ``--lake-root``/``--data-dir`` replacing the MinIO
endpoint config. The ``pipeline`` command runs both stages **in-process
on one SparkSession** — the reference forks a subprocess per stage
(pipeline.py:34-54), which on Spark would pay JVM startup twice for
nothing.

Usage:
    python -m streampro_assignment_etl_spark.pipeline.cli pipeline \
        --lake-root /tmp/lake --ingestion_date 2025-09-09 [--data-dir data/]
    python -m streampro_assignment_etl_spark.pipeline.cli query sp_q1_first_session_conversion
"""

from __future__ import annotations

import argparse
import logging
import sys
from datetime import date

from .base import JobResult
from .lake import LakeStorage
from .landing_to_raw import LandingToRawProcessor
from .raw_to_trusted import RawToTrustedProcessor
from .schemas import STREAMPRO_TABLES, TESTDATA_TABLES


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="streampro-spark",
        description="StreamPro PySpark ETL: landing → raw → trusted → analytics",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp: argparse.ArgumentParser) -> None:
        sp.add_argument("--env", default="dev", choices=["dev", "test", "prod"])
        sp.add_argument(
            "--ingestion_date",
            default=date.today().isoformat(),
            help="Ingestion date (YYYY-MM-DD); defaults to today",
        )
        sp.add_argument(
            "--lake-root",
            help="Lake root dir/URI (default: LAKE_ROOT from config/<env>.env)",
        )
        sp.add_argument("--data-dir", help="Seed landing/ from this fixture dir first")
        sp.add_argument(
            "--backfill",
            metavar="START:END",
            help="Process an inclusive ingestion-date range instead of one date",
        )
        sp.add_argument(
            "--registry",
            default="streampro",
            choices=["streampro", "testdata"],
            help="Schema registry for raw→trusted parsing",
        )
        sp.add_argument("--debug", action="store_true")

    for cmd in ("to_raw", "to_trusted", "pipeline"):
        common(sub.add_parser(cmd))

    q = sub.add_parser("query", help="Run a registered analytics query")
    q.add_argument("name", help="Query name from the registry (or 'list')")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--debug", action="store_true")

    ix = sub.add_parser(
        "index",
        help="Persisted IVF-PQ index maintenance (operators/ann_index.py): "
        "the cron surface for the build/ingest/compact/expire/monitor loop",
    )
    ix.add_argument(
        "action",
        choices=[
            "build", "append", "compact", "expire", "occupancy", "maintain",
            "prune-markers", "delete",
        ],
    )
    ix.add_argument(
        "--ids",
        help="delete: comma-separated vector ids to take down",
    )
    ix.add_argument(
        "--ids-file",
        help="delete: file with one vector id per line (alternative to --ids)",
    )
    ix.add_argument("--path", required=True, help="Index root dir/URI")
    ix.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="Embeddings source table dir (build/append)",
    )
    ix.add_argument(
        "--where", help="SQL predicate over the embeddings table (build/append source)"
    )
    ix.add_argument(
        "--residual",
        action="store_true",
        help="Build the IVFADC form (codes quantize v - centroid[cell])",
    )
    ix.add_argument("--n-centroids", type=int, default=16)
    ix.add_argument("--m", type=int, default=4)
    ix.add_argument("--n-codes", type=int, default=16)
    ix.add_argument(
        "--min-age-seconds",
        type=float,
        default=86400.0,
        help="Expiry grace horizon (default 24 h; see expire_ivfpq_snapshots)",
    )
    ix.add_argument("--ingest-id", help="Idempotency key for append (replays overwrite)")
    ix.add_argument(
        "--drift-threshold",
        type=float,
        default=0.25,
        help="maintain: occupancy TV-distance that triggers a retrain",
    )
    ix.add_argument(
        "--no-train",
        action="store_true",
        help="maintain: rebuild with the id-seeded model instead of k-means",
    )
    ix.add_argument(
        "--new-mass-drift-threshold",
        type=float,
        default=0.5,
        help="maintain: per-append-batch TV that triggers the early "
        "(new-mass) retrain arm",
    )
    ix.add_argument(
        "--min-new-mass-fraction",
        type=float,
        default=0.1,
        help="maintain: appended share of the index the new-mass arm "
        "requires before it may retrain",
    )
    ix.add_argument(
        "--recall-floor",
        type=float,
        help="maintain: also retrain if served recall@5 over the probe "
        "set drops below this (omit to skip the probe)",
    )
    ix.add_argument(
        "--recall-probe-limit",
        type=int,
        default=100,
        help="maintain: probe-set size (lowest vec_ids of the source table)",
    )
    ix.add_argument(
        "--recall-probes",
        type=int,
        default=4,
        help="maintain: IVF cells probed per query during the recall probe",
    )
    ix.add_argument(
        "--recall-shortlist",
        type=int,
        default=100,
        help="maintain: ADC shortlist size during the recall probe",
    )
    ix.add_argument(
        "--stream-name",
        default="ingest",
        help="prune-markers: the ingest stream whose applied markers to prune",
    )
    ix.add_argument(
        "--keep-last",
        type=int,
        default=1000,
        help="prune-markers: newest markers to keep (must exceed any "
        "possible checkpoint replay depth)",
    )
    ix.add_argument("--debug", action="store_true")

    lk = sub.add_parser(
        "lake",
        help="Lake-table maintenance (pipeline/writers.py): the composed "
        "heal-then-compact cron tick for a parquet table",
    )
    lk.add_argument(
        "action",
        choices=[
            "maintain",
            "drop-partitions",
            "merge",
            "audit-locality",
            "release-snapshot",
            "release-diff",
            "release-row-delta",
            "release-list",
            "release-expire",
            "release-verify",
        ],
    )
    lk.add_argument("--path", required=True, help="Table root dir")
    lk.add_argument(
        "--release-id",
        help="release-snapshot: id to record (immutable); "
        "release-verify: id to fsck",
    )
    lk.add_argument(
        "--check-rows",
        action="store_true",
        help="release-verify: also re-read each resolved file's parquet "
        "footer and compare row counts (KB per file; the size check "
        "alone already catches deletion and truncation)",
    )
    lk.add_argument(
        "--checksums",
        action="store_true",
        help="release-snapshot: also record a full-byte sha256 per file "
        "(reads the whole release once) so release-verify --check-sums "
        "can catch same-size bit-rot",
    )
    lk.add_argument(
        "--check-sums",
        action="store_true",
        help="release-verify: recompute each resolved file's sha256 and "
        "compare against the recorded one (reads every byte; files "
        "recorded without checksums verify size-only, loudly noted)",
    )
    lk.add_argument(
        "--notes", default="", help="release-snapshot: free-form annotation"
    )
    lk.add_argument(
        "--from-release",
        help="release-diff / release-row-delta: baseline release id",
    )
    lk.add_argument(
        "--to-release",
        help="release-diff / release-row-delta: target release id",
    )
    lk.add_argument(
        "--keys",
        help="release-row-delta / merge / audit-locality: comma-"
        "separated key columns (for release-row-delta include the "
        "partition column to get the pruned plan; without it the "
        "delta reads both releases' full pinned file sets)",
    )
    lk.add_argument(
        "--updates",
        help="merge: parquet path of the update rows (same schema as "
        "the target)",
    )
    lk.add_argument(
        "--order-by",
        help="merge: non-key column resolving conflicting same-key "
        "update rows deterministically (greatest wins); without it "
        "conflicting duplicates refuse loudly",
    )
    lk.add_argument(
        "--sample",
        type=int,
        default=10,
        help="release-row-delta: example keys to print per change kind",
    )
    lk.add_argument(
        "--keep",
        default="",
        help="release-expire: comma-separated release ids to KEEP; every "
        "other release's manifest is deleted and .retired/ files nothing "
        "references are reclaimed (the physical-erasure step after a "
        "takedown against a release-protected table). Required unless "
        "--expire-all states the expire-everything intent explicitly",
    )
    lk.add_argument(
        "--expire-all",
        action="store_true",
        help="release-expire: confirm expiring EVERY release (an empty "
        "--keep alone refuses — one irreversible command should not be "
        "the zero-argument default)",
    )
    lk.add_argument(
        "--partition-column",
        help="drop-partitions: Hive partition column to age out",
    )
    lk.add_argument(
        "--cutoff",
        help="drop-partitions: drop partitions strictly below this value",
    )
    lk.add_argument(
        "--dry-run",
        action="store_true",
        help="drop-partitions / release-expire: report what would be "
        "dropped/expired, delete nothing",
    )
    lk.add_argument(
        "--max-files",
        type=int,
        default=64,
        help="Compact only when the visible parquet file count exceeds this",
    )
    lk.add_argument(
        "--partition-max-files",
        type=int,
        help="maintain: compact per PARTITION instead — rewrite only "
        "Hive partitions with more files than this (the streaming-sink "
        "shape: recent partitions fragment, the archive stays put)",
    )
    lk.add_argument(
        "--protect-releases",
        action="store_true",
        help="maintain / drop-partitions: PARK (never delete) old files "
        "still referenced by a recorded release — read_release keeps "
        "resolving them; expire_releases reclaims the space",
    )
    lk.add_argument(
        "--target-file-bytes", type=int, default=128 * 1024 * 1024
    )
    lk.add_argument(
        "--partition-col",
        help="Hive partition column to preserve on compact; for merge/"
        "audit-locality: comma-separated column list for multi-level "
        "layouts (date,hour scopes on the leaf partition)",
    )
    lk.add_argument("--debug", action="store_true")

    dd = sub.add_parser(
        "dedup",
        help="Fuzzy-dedup signature store (operators/minhash.py + "
        "streaming/fuzzy_store_ingest.py): sign a corpus, probe an "
        "arrival batch, or drain a landing dir through the store",
    )
    dd.add_argument(
        "action",
        choices=[
            "build-store", "probe", "ingest", "compact", "expire",
            "maintain", "stats", "resign", "remove",
        ],
    )
    dd.add_argument("--path", required=True, help="Store root dir/URI")
    dd.add_argument(
        "--ids", help="remove: comma-separated doc ids to take down"
    )
    dd.add_argument(
        "--ids-file",
        help="remove: file with one doc id per line (alternative to --ids)",
    )
    dd.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="Documents source table dir (build-store/probe)",
    )
    dd.add_argument(
        "--where", help="SQL predicate over the documents table (build-store/probe)"
    )
    dd.add_argument("--landing", help="Parquet landing dir (ingest)")
    dd.add_argument("--checkpoint", help="Stream checkpoint dir (ingest)")
    dd.add_argument("--threshold", type=float, default=0.8)
    dd.add_argument("--num-hashes", type=int, default=32)
    dd.add_argument("--bands", type=int, default=8)
    dd.add_argument("--shingle-n", type=int, default=3)
    dd.add_argument(
        "--max-bucket-size",
        type=int,
        default=1000,
        help="probe/ingest: LSH hot-bucket cap (store side of the "
        "candidate join); see operators/minhash.py",
    )
    dd.add_argument(
        "--no-bucket-cap",
        action="store_true",
        help="probe/ingest: disable the hot-bucket cap (exhaustive "
        "candidate cross — boilerplate-free corpora only)",
    )
    dd.add_argument(
        "--log-overcap",
        action="store_true",
        help="ingest: emit one overcap_band_stats JSON line per batch",
    )
    dd.add_argument(
        "--decisions-keep-seconds",
        type=float,
        help="compact: age out decision-audit subtrees older than this",
    )
    dd.add_argument(
        "--min-age-seconds",
        type=float,
        default=86400.0,
        help="expire/maintain: grace horizon before superseded snapshots "
        "are swept (default 24 h, matching the index surface — zero grace "
        "could reap a just-superseded snapshot under an in-flight reader)",
    )
    dd.add_argument(
        "--max-subtrees",
        type=int,
        default=16,
        help="maintain: fold only when any kind's ingest-subtree count "
        "exceeds this (fragmentation threshold)",
    )
    dd.add_argument("--debug", action="store_true")

    td = sub.add_parser(
        "takedown",
        help="Cascade takedown (operators/takedown.py): one id list "
        "through the ANN index, the dedup store, and lake tables — "
        "optionally expanded to semantic near-copies first",
    )
    td.add_argument("--ids", help="Comma-separated doc/vector ids")
    td.add_argument("--ids-file", help="File with one id per line")
    td.add_argument("--index", help="IVF-PQ index root to delete from")
    td.add_argument("--store", help="Fuzzy dedup store root to remove from")
    td.add_argument(
        "--table",
        action="append",
        default=[],
        metavar="PATH:IDCOL",
        help="Lake parquet table to delete_where from (repeatable)",
    )
    td.add_argument(
        "--scd2-dim",
        help="SCD-2 dimension root: forget the ids' whole status history "
        "(scd2_forget_key — tombstone + bucket-pruned rewrite)",
    )
    td.add_argument(
        "--requests-dir",
        help="STREAM mode (instead of --ids/--ids-file): drain a landing "
        "dir of (request_id, doc_id) parquet request batches through the "
        "cascade with a per-batch audit (streaming/takedown_stream.py)",
    )
    td.add_argument(
        "--audit-dir", help="stream mode: audit-log output dir"
    )
    td.add_argument(
        "--checkpoint-dir", help="stream mode: checkpoint location"
    )
    td.add_argument(
        "--id-type",
        default="long",
        choices=["long", "string"],
        help="stream mode: subject id column type (string = user keys)",
    )
    td.add_argument(
        "--semantic-threshold",
        type=float,
        help="Expand ids to every embedding within this cosine first",
    )
    td.add_argument(
        "--verify-only",
        action="store_true",
        help="Read-only erasure evidence: count residuals per surface "
        "instead of deleting",
    )
    td.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="Embeddings table dir for --semantic-threshold expansion",
    )
    td.add_argument("--debug", action="store_true")

    s2 = sub.add_parser(
        "scd2",
        help="SCD Type-2 dimension maintenance (queries/reshape.py): "
        "bulk-build a history table from a change log, apply an "
        "incremental change batch, or report table stats",
    )
    s2.add_argument("action", choices=["init", "apply", "stats"])
    s2.add_argument("--target", required=True, help="Dimension table dir")
    s2.add_argument(
        "--changes", help="Change-log parquet dir/file (init/apply)"
    )
    s2.add_argument(
        "--key-col", default="user_id", help="Dimension key column"
    )
    s2.add_argument("--status-col", default="status")
    s2.add_argument(
        "--ts-col", default="ts_us", help="Change time column (BIGINT µs)"
    )
    s2.add_argument(
        "--id-col",
        default="change_id",
        help="Tiebreak column for equal-ts changes",
    )
    s2.add_argument("--debug", action="store_true")
    return p


def _registry(args: argparse.Namespace):
    return TESTDATA_TABLES if args.registry == "testdata" else STREAMPRO_TABLES


def _parse_id_token(tok: str):
    """Integer-looking tokens become ints (vec/doc ids); anything else
    stays a string key (``user_12`` — the shape a GDPR request names).
    The string travels as a typed literal through ``Column.isin``,
    never into SQL text, so no quoting/escaping happens here."""
    try:
        return int(tok)
    except ValueError:
        return tok


def _parse_ids(args: argparse.Namespace) -> list | None:
    """Takedown id list from --ids (comma-separated) or --ids-file
    (one per line, blank lines/comments skipped); None when neither."""
    if getattr(args, "ids", None):
        return [_parse_id_token(tok.strip()) for tok in args.ids.split(",") if tok.strip()]
    if getattr(args, "ids_file", None):
        with open(args.ids_file) as f:
            return [
                _parse_id_token(ln)
                for ln in (ln.strip() for ln in f)
                if ln and not ln.startswith("#")
            ]
    return None


def _report(result: JobResult) -> int:
    log = logging.getLogger("streampro.cli")
    if result.is_success:
        log.info("%s: %s (%.2fs)", result.job_id, result.message, result.duration_seconds)
        return 0
    log.error("%s FAILED: %s", result.job_id, result.error)
    return 1


def main(argv: list[str] | None = None, lake_factory=None) -> int:
    """``lake_factory`` (root -> LakeStorage) is the injection seam for
    lakes the CLI string surface can't express — e.g. tests running the
    whole pipeline against an in-memory ``pyarrow.fs`` store."""
    args = build_parser().parse_args(argv)
    logging.basicConfig(
        level=logging.DEBUG if args.debug else logging.INFO,
        format="%(asctime)s %(levelname)-7s %(name)s %(message)s",
        stream=sys.stdout,
    )

    if args.command == "takedown":
        import json as _json

        from ..operators.takedown import (
            cascade_takedown,
            semantic_expand_ids,
            verify_takedown,
        )
        from ..session import get_spark
        from ..sources.testdata import load_table

        if not (args.index or args.store or args.table or args.scd2_dim):
            print(
                "takedown requires at least one of "
                "--index/--store/--table/--scd2-dim",
                file=sys.stderr,
            )
            return 2
        tables_spec = []
        for spec in args.table:
            path, _, id_col = spec.rpartition(":")
            if not path or not id_col:
                print(f"--table expects PATH:IDCOL, got {spec!r}", file=sys.stderr)
                return 2
            tables_spec.append((path, id_col))
        if args.requests_dir:
            # stream mode is the DESTRUCTIVE drain; the read-only /
            # expansion flags belong to the one-shot id-list form. An
            # operator typing `--verify-only --requests-dir …` must get
            # an error, not a cascade over every batch (ADVICE r15 #2).
            if args.verify_only or args.semantic_threshold is not None:
                print(
                    "--verify-only/--semantic-threshold do not apply in "
                    "stream mode (--requests-dir): the drain runs the "
                    "destructive cascade per batch — use --ids/--ids-file "
                    "for read-only verification or semantic expansion",
                    file=sys.stderr,
                )
                return 2
            if not (args.audit_dir and args.checkpoint_dir):
                print(
                    "takedown stream mode requires --audit-dir and "
                    "--checkpoint-dir",
                    file=sys.stderr,
                )
                return 2
            from ..streaming._drain import read_landing
            from ..streaming.takedown_stream import (
                run_takedown_request_stream,
            )

            spark = get_spark("streampro-takedown-stream")
            run_takedown_request_stream(
                read_landing(
                    spark,
                    f"request_id long, doc_id {args.id_type}",
                    args.requests_dir,
                    "parquet",
                ),
                args.audit_dir,
                args.checkpoint_dir,
                index_path=args.index,
                store_path=args.store,
                tables=tuple(tables_spec),
                scd2_dim_path=args.scd2_dim,
            )
            print(_json.dumps({"action": "takedown-stream", "drained": True}))
            return 0
        ids = _parse_ids(args)
        if ids is None:
            print("takedown requires --ids or --ids-file", file=sys.stderr)
            return 2
        spark = get_spark("streampro-takedown")
        if args.semantic_threshold is not None:
            ids = semantic_expand_ids(
                load_table(spark, args.sf_dir, "embeddings"),
                ids,
                threshold=args.semantic_threshold,
            )
        fn = verify_takedown if args.verify_only else cascade_takedown
        out = fn(
            spark, ids,
            index_path=args.index, store_path=args.store,
            tables=tuple(tables_spec), scd2_dim_path=args.scd2_dim,
        )
        action = "takedown-verify" if args.verify_only else "takedown"
        print(_json.dumps({"action": action, **out}))
        return 0

    if args.command == "lake":
        import json as _json

        if args.action.startswith("release-"):
            # pure-metadata lineage ops (pipeline/release.py): no Spark
            # session — one listing + footer reads, KB-sized output
            from .release import (
                diff_releases,
                expire_releases,
                list_releases,
                load_release,
                snapshot_release,
            )

            if args.action == "release-expire":
                keep = [k.strip() for k in args.keep.split(",") if k.strip()]
                if not keep and not args.expire_all:
                    print(
                        "release-expire with no --keep would expire EVERY "
                        "release and drain all parked retention roots — "
                        "pass --keep ids, or --expire-all to confirm "
                        "(add --dry-run to preview)",
                        file=sys.stderr,
                    )
                    return 2
                out = expire_releases(
                    args.path,
                    keep=keep,
                    dry_run=args.dry_run,
                    expire_all=args.expire_all,
                )
                print(_json.dumps({"action": "lake-release-expire", **out}))
                return 0

            if args.action == "release-verify":
                from .release import verify_release

                if not args.release_id:
                    print(
                        "release-verify requires --release-id",
                        file=sys.stderr,
                    )
                    return 2
                out = verify_release(
                    args.path,
                    args.release_id,
                    check_rows=args.check_rows,
                    check_sums=args.check_sums,
                )
                print(_json.dumps({"action": "lake-release-verify", **out}))
                return 0 if out["ok"] else 1

            if args.action == "release-snapshot":
                if not args.release_id:
                    print(
                        "release-snapshot requires --release-id",
                        file=sys.stderr,
                    )
                    return 2
                man = snapshot_release(
                    args.path,
                    args.release_id,
                    notes=args.notes,
                    checksums=args.checksums,
                )
                print(
                    _json.dumps(
                        {
                            "action": "lake-release-snapshot",
                            "release": man["release"],
                            "total_rows": man["total_rows"],
                            "total_bytes": man["total_bytes"],
                            "total_files": man["total_files"],
                            "partitions": len(man["partitions"]),
                            "fingerprint": man["fingerprint"],
                        }
                    )
                )
                return 0
            if args.action == "release-row-delta":
                # the one release op that reads data (pinned file
                # sets), so it needs a Spark session
                keys = [
                    k.strip()
                    for k in (args.keys or "").split(",")
                    if k.strip()
                ]
                if not (args.from_release and args.to_release and keys):
                    print(
                        "release-row-delta requires --from-release, "
                        "--to-release and --keys",
                        file=sys.stderr,
                    )
                    return 2
                from pyspark.sql import functions as F

                from ..session import get_spark
                from .release import release_row_delta

                spark = get_spark("streampro-lake")
                delta = release_row_delta(
                    spark, args.path, args.from_release, args.to_release,
                    keys,
                ).cache()
                try:
                    counts = {
                        r["_change"]: r["n"]
                        for r in delta.groupBy("_change")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    }
                    sample = {
                        kind: [
                            {c: row[c] for c in keys}
                            for row in delta.filter(
                                F.col("_change") == kind
                            ).head(args.sample)
                        ]
                        for kind in ("removed", "added")
                    }
                finally:
                    delta.unpersist()
                print(
                    _json.dumps(
                        {
                            "action": "lake-release-row-delta",
                            "from": args.from_release,
                            "to": args.to_release,
                            "keys": keys,
                            "removed": int(counts.get("removed", 0)),
                            "added": int(counts.get("added", 0)),
                            "sample": sample,
                        }
                    )
                )
                return 0
            if args.action == "release-diff":
                if not (args.from_release and args.to_release):
                    print(
                        "release-diff requires --from-release and "
                        "--to-release",
                        file=sys.stderr,
                    )
                    return 2
                d = diff_releases(
                    load_release(args.path, args.from_release),
                    load_release(args.path, args.to_release),
                )
                print(_json.dumps({"action": "lake-release-diff", **d}))
                return 0
            print(
                _json.dumps(
                    {
                        "action": "lake-release-list",
                        "releases": list_releases(args.path),
                    }
                )
            )
            return 0

        if args.action == "merge":
            # keyed SCD-1 correction into a parquet table; with
            # --partition-col the O(touched-partitions) manifest route
            from ..session import get_spark
            from .writers import merge_upsert

            keys = [
                k.strip() for k in (args.keys or "").split(",") if k.strip()
            ]
            if not (args.updates and keys):
                print(
                    "lake merge requires --updates and --keys",
                    file=sys.stderr,
                )
                return 2
            spark = get_spark("streampro-lake")
            pcols = [
                c.strip()
                for c in (args.partition_col or "").split(",")
                if c.strip()
            ]
            out = merge_upsert(
                spark,
                args.path,
                spark.read.parquet(args.updates),
                keys=tuple(keys),
                partition_col=(
                    None
                    if not pcols
                    else (pcols[0] if len(pcols) == 1 else pcols)
                ),
                protect_releases=args.protect_releases,
                order_by=args.order_by,
            )
            print(_json.dumps({"action": "lake-merge", **out}))
            return 0

        if args.action == "audit-locality":
            # after-the-fact check of the merge's partition-locality
            # contract: keys living in >1 partition (leaf-granularity
            # when --partition-col is a comma-separated list)
            from ..session import get_spark
            from .writers import audit_key_partition_locality

            keys = [
                k.strip() for k in (args.keys or "").split(",") if k.strip()
            ]
            if not (keys and args.partition_col):
                print(
                    "lake audit-locality requires --keys and "
                    "--partition-col",
                    file=sys.stderr,
                )
                return 2
            spark = get_spark("streampro-lake")
            pcols = [
                c.strip()
                for c in args.partition_col.split(",")
                if c.strip()
            ]
            df = audit_key_partition_locality(
                spark,
                args.path,
                tuple(keys),
                pcols[0] if len(pcols) == 1 else pcols,
            ).cache()
            try:
                n = df.count()
                sample = [
                    {
                        **{c: row[c] for c in keys},
                        "n_partitions": int(row["n_partitions"]),
                    }
                    for row in df.head(args.sample)
                ]
            finally:
                df.unpersist()
            print(
                _json.dumps(
                    {
                        "action": "lake-audit-locality",
                        "violating_keys": int(n),
                        "sample": sample,
                    }
                )
            )
            return 0

        if args.action == "drop-partitions":
            from .writers import drop_partitions_before

            if not (args.partition_column and args.cutoff):
                print(
                    "drop-partitions requires --partition-column and --cutoff",
                    file=sys.stderr,
                )
                return 2
            out = drop_partitions_before(
                args.path,
                args.partition_column,
                args.cutoff,
                dry_run=args.dry_run,
                protect_releases=args.protect_releases,
            )
            print(_json.dumps({"action": "lake-drop-partitions", **out}))
            return 0

        from ..session import get_spark
        from .writers import maintain_lake_table

        spark = get_spark("streampro-lake")
        out = maintain_lake_table(
            spark,
            args.path,
            max_files=args.max_files,
            target_file_bytes=args.target_file_bytes,
            partition_col=args.partition_col,
            partition_max_files=args.partition_max_files,
            protect_releases=args.protect_releases,
        )
        print(_json.dumps({"action": "lake-maintain", **out}))
        return 0

    if args.command == "scd2":
        import json as _json
        import uuid

        from pyspark.sql import functions as F

        from ..queries.reshape import scd2_apply_changes, scd2_from_log
        from ..session import get_spark
        from .writers import _staged_bootstrap, _staged_swap, require_local_path

        spark = get_spark("streampro-scd2")
        root = require_local_path(args.target, "scd2")

        # The operator works in canonical (user_id, status, ts_us)
        # terms; the STORED table keeps the user's own --key-col/
        # --status-col names (ADVICE r13: a dimension keyed on another
        # column was silently renamed on disk). Interval columns are
        # always valid_from_us/valid_to_us/is_current — derived here,
        # not taken from the input.
        def _to_canonical(dim):
            return dim.select(
                F.col(args.key_col).alias("user_id"),
                F.col(args.status_col).alias("status"),
                "valid_from_us",
                "valid_to_us",
                "is_current",
            )

        def _from_canonical(dim):
            return dim.select(
                F.col("user_id").alias(args.key_col),
                F.col("status").alias(args.status_col),
                "valid_from_us",
                "valid_to_us",
                "is_current",
            )

        def _read_changes():
            return spark.read.parquet(args.changes).select(
                F.col(args.key_col).alias("user_id"),
                F.col(args.status_col).alias("status"),
                F.col(args.ts_col).cast("long").alias("ts_us"),
                F.col(args.id_col).cast("long").alias("change_id"),
            ).dropDuplicates(["user_id", "ts_us"])

        if args.action == "stats":
            dim = spark.read.parquet(str(root))
            print(_json.dumps({
                "action": "stats",
                "rows": dim.count(),
                "keys": dim.select(args.key_col).distinct().count(),
                "open_rows": dim.filter(F.col("is_current")).count(),
            }))
            return 0
        if not args.changes:
            print(f"{args.action} requires --changes", file=sys.stderr)
            return 2
        if args.action == "init":
            if root.exists():
                print(f"target exists: {root} (use apply)", file=sys.stderr)
                return 2
            _staged_bootstrap(
                root, _from_canonical(scd2_from_log(_read_changes(), "change_id"))
            )
        else:  # apply
            if not root.exists():
                print(f"target missing: {root} (use init)", file=sys.stderr)
                return 2
            existing = _to_canonical(spark.read.parquet(str(root)))
            merged = scd2_apply_changes(existing, _read_changes())
            staging = root.parent / f".{root.name}.scd2-{uuid.uuid4().hex[:8]}"
            _from_canonical(merged).write.mode("overwrite").parquet(
                str(staging)
            )
            _staged_swap(root, staging)
        dim = spark.read.parquet(str(root))
        print(_json.dumps({
            "action": args.action,
            "rows": dim.count(),
            "open_rows": dim.filter(F.col("is_current")).count(),
        }))
        return 0

    if args.command == "dedup":
        import json as _json

        from ..operators import minhash
        from ..session import get_spark
        from ..sources.testdata import load_table
        from ..streaming import fuzzy_store_ingest as fsi

        spark = get_spark("streampro-dedup")
        geom = {
            "num_hashes": args.num_hashes,
            "bands": args.bands,
            "shingle_n": args.shingle_n,
        }
        if args.action == "remove":
            ids = _parse_ids(args)
            if ids is None:
                print("remove requires --ids or --ids-file", file=sys.stderr)
                return 2
            out = fsi.remove_docs(spark, args.path, ids)
            print(_json.dumps({"action": "remove", **out}))
            return 0
        if args.action == "compact":
            out = fsi.compact_fuzzy_store(
                spark, args.path,
                decisions_keep_seconds=args.decisions_keep_seconds,
            )
            print(_json.dumps({"action": "compact", **out}))
            return 0
        if args.action == "expire":
            gone = fsi.expire_fuzzy_store(
                spark, args.path, min_age_seconds=args.min_age_seconds
            )
            print(_json.dumps({"action": "expire", "expired": gone}))
            return 0
        if args.action == "stats":
            print(_json.dumps({"action": "stats", **fsi.store_stats(spark, args.path)}))
            return 0
        if args.action == "resign":
            out = fsi.resign_store(spark, args.path, **geom)
            print(_json.dumps({"action": "resign", **out}))
            return 0
        if args.action == "maintain":
            out = fsi.maintain_store(
                spark,
                args.path,
                max_subtrees=args.max_subtrees,
                decisions_keep_seconds=args.decisions_keep_seconds,
                min_age_seconds=args.min_age_seconds,
            )
            print(_json.dumps({"action": "maintain", **out}))
            return 0
        if args.action == "ingest":
            if not (args.landing and args.checkpoint):
                print("ingest requires --landing and --checkpoint", file=sys.stderr)
                return 2
            fsi.run_fuzzy_store_ingest_from_dir(
                spark, args.landing, args.path, args.checkpoint,
                threshold=args.threshold,
                max_bucket_size=None if args.no_bucket_cap else args.max_bucket_size,
                log_overcap=args.log_overcap,
                **geom,
            )
            print(
                _json.dumps(
                    {
                        "action": "ingest",
                        "docs": fsi.read_store_docs(spark, args.path).count(),
                        "decisions": fsi.read_decisions(spark, args.path).count(),
                    }
                )
            )
            return 0
        docs = load_table(spark, args.sf_dir, "documents")
        if args.where:
            docs = docs.filter(args.where)
        if args.action == "build-store":
            # base subtree, layout-compatible with the streaming ingest
            minhash.signature_store(docs, "doc_id", "text", **geom).write.mode(
                "overwrite"
            ).parquet(f"{args.path}/{fsi.STORE_DIR}/ingest=base")
            docs.select("doc_id", "text").write.mode("overwrite").parquet(
                f"{args.path}/{fsi.DOCS_DIR}/ingest=base"
            )
            # Commit an initial geometry-bearing manifest (ADVICE r12:
            # a manifest-less batch-built store left the LSH geometry
            # fence inert until a streaming batch happened to commit
            # one — a probe under mismatched geometry silently matched
            # nothing). Epoch 1, pointing at the legacy fixed dirs the
            # subtree writes above landed in.
            from .object_swap import commit_epoch

            epoch = fsi._store_epoch(fsi.load_store_manifest(args.path))
            commit_epoch(
                args.path,
                fsi.MANIFEST_PREFIX,
                fsi._manifest_doc(fsi._store_dirs(None), geom, epoch + 1),
                epoch,
            )
            print(_json.dumps({"action": "build-store", "signed": docs.count()}))
            return 0
        # probe: read-only decision preview for an arrival batch —
        # fence first, so a mismatched geometry is a loud error instead
        # of a silent zero-candidate probe (band hashes are seed- and
        # geometry-dependent)
        fsi._check_geometry(fsi.load_store_manifest(args.path), geom, args.path)
        matches = minhash.incremental_fuzzy_matches(
            docs,
            fsi.read_store_docs(spark, args.path).select("doc_id", "text"),
            fsi.read_store_bands(spark, args.path).select(
                "doc_id", "band_id", "band_hash"
            ),
            "doc_id", "text", threshold=args.threshold,
            max_bucket_size=None if args.no_bucket_cap else args.max_bucket_size,
            **geom,
        )
        print(
            _json.dumps(
                {
                    "action": "probe",
                    "probed": docs.count(),
                    "matched": matches.count(),
                }
            )
        )
        return 0

    if args.command == "index":
        import json as _json

        from ..operators import ann_index
        from ..session import get_spark
        from ..sources.testdata import load_table

        spark = get_spark("streampro-index")
        if args.action == "delete":
            ids = _parse_ids(args)
            if ids is None:
                print("delete requires --ids or --ids-file", file=sys.stderr)
                return 2
            out = ann_index.delete_from_ivfpq_index(spark, args.path, ids)
            print(_json.dumps({"action": "delete", **out}))
            return 0
        if args.action == "prune-markers":
            from ..streaming.index_ingest import prune_applied_markers

            gone = prune_applied_markers(
                args.path, stream_name=args.stream_name, keep_last=args.keep_last
            )
            print(_json.dumps({"action": "prune-markers", "pruned": gone}))
            return 0
        if args.action in ("build", "append", "maintain"):
            emb = load_table(spark, args.sf_dir, "embeddings")
            if args.where:
                emb = emb.filter(args.where)
        if args.action == "maintain":
            probe_q = (
                emb.orderBy("vec_id").limit(args.recall_probe_limit)
                if args.recall_floor is not None
                else None
            )
            out = ann_index.maintain_index(
                spark,
                args.path,
                emb,
                drift_threshold=args.drift_threshold,
                new_mass_drift_threshold=args.new_mass_drift_threshold,
                min_new_mass_fraction=args.min_new_mass_fraction,
                min_age_seconds=args.min_age_seconds,
                train=not args.no_train,
                probe_queries=probe_q,
                recall_floor=args.recall_floor,
                recall_probes=args.recall_probes,
                recall_shortlist=args.recall_shortlist,
            )
            print(_json.dumps({"action": "maintain", **out}))
            return 0
        if args.action == "build":
            model = ann_index.build_ivfpq_index(
                emb,
                args.path,
                n_centroids=args.n_centroids,
                m=args.m,
                n_codes=args.n_codes,
                residual=args.residual,
            )
        elif args.action == "append":
            model = ann_index.append_to_ivfpq_index(
                emb, args.path, ingest_id=args.ingest_id
            )
        elif args.action == "compact":
            model = ann_index.compact_ivfpq_index(spark, args.path)
        elif args.action == "expire":
            gone = ann_index.expire_ivfpq_snapshots(
                spark, args.path, min_age_seconds=args.min_age_seconds
            )
            print(_json.dumps({"expired": gone}))
            return 0
        else:  # occupancy
            print(_json.dumps(ann_index.index_occupancy_stats(spark, args.path)))
            return 0
        print(
            _json.dumps(
                {
                    "action": args.action,
                    "epoch": model.epoch,
                    "encoded_dir": model.encoded_dir,
                    "residual": model.residual,
                    "n_centroids": model.n_centroids,
                    "m": model.m,
                    "n_codes": model.n_codes,
                }
            )
        )
        return 0

    if args.command == "query":
        from ..queries import EXTRAS, REGISTRY
        from ..session import get_spark

        if args.name == "list":
            for name in sorted(REGISTRY):
                print(name)
            for name in sorted(EXTRAS):
                print(f"{name} (extra)")
            return 0
        spec = REGISTRY.get(args.name) or EXTRAS.get(args.name)
        if spec is None:
            print(f"unknown query {args.name!r}; try 'list'", file=sys.stderr)
            return 2
        spark = get_spark("streampro-cli")
        spec.builder(spark, args.sf_dir).show(50, truncate=False)
        return 0

    if not args.lake_root:
        from .config import get_settings

        args.lake_root = get_settings(args.env).LAKE_ROOT
    lake = (lake_factory or LakeStorage)(args.lake_root)
    lake.ensure_zones()
    if args.data_dir:
        seeded = lake.seed_landing(args.data_dir)
        logging.getLogger("streampro.cli").info("seeded %d landing files", len(seeded))

    if args.backfill:
        start, _, end = args.backfill.partition(":")
        from datetime import date as _date, timedelta

        d0, d1 = _date.fromisoformat(start), _date.fromisoformat(end or start)
        dates = [
            (d0 + timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)
        ]
    else:
        dates = [args.ingestion_date]

    spark = None
    rc = 0
    prev_proc: RawToTrustedProcessor | None = None
    for d in dates:
        if args.command in ("to_raw", "pipeline"):
            rc = _report(LandingToRawProcessor(lake, d).run())
            if rc and args.command == "pipeline":
                return rc  # stage-1 failure short-circuits stage 2 (pipeline.py:47)
        if args.command in ("to_trusted", "pipeline"):
            if spark is None:  # one SparkSession across the whole backfill
                from ..session import get_spark

                spark = get_spark("streampro-pipeline")
            # Intermediate backfill dates skip view registration (only
            # the final date's views matter; on a non-Spark-readable
            # lake every registration re-downloads the whole trusted
            # subtree — quadratic over the backfill) and release their
            # staging dirs as soon as the next date succeeds, so a long
            # backfill holds at most one date's staging on disk.
            proc = RawToTrustedProcessor(
                spark,
                lake,
                d,
                registry=_registry(args),
                register_views=(d == dates[-1]),
            )
            rc = _report(proc.run())
            if rc:
                # Nothing references either staging on the failure path:
                # the failed run registered no views, and the previous
                # date was intermediate (only the FINAL date registers
                # views) — release both instead of leaking mkdtemp dirs.
                proc.cleanup()
                if prev_proc is not None:
                    prev_proc.cleanup()
                return rc
            if prev_proc is not None:
                prev_proc.cleanup()
            prev_proc = proc
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
