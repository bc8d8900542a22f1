"""End-to-end + unit tests for the zoned pipeline (SURVEY §2.1 S1–S10, §2.4 P1).

Fixture files mirror the reference's data/ shapes
(/root/reference/data/users_2025-09-09.csv etc.); the e2e test walks
landing → raw → trusted and asserts the typed, partitioned output.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streampro_assignment_etl_spark.pipeline import (
    LakeStorage,
    LandingToRawProcessor,
    RawToTrustedProcessor,
    STREAMPRO_TABLES,
    parse_landing_filename,
)

DATE = "2025-09-09"

USERS_CSV = """user_id,signup_date,subscription_tier,age_group,gender
user_1,2025-03-26,Free,36-50,Female
user_2,2024-09-12,Premium,26-35,Male
user_3,2024-12-01,Free,18-25,Female
"""

VIDEOS_CSV = """video_id,title,genre,duration_seconds,patent_id
video_1,Video Title 1,Action,2820,patent_3
video_2,Video Title 2,Drama,3244,patent_1
"""

DEVICES_CSV = """device,os,model,os_version
mobile,iOS,iPhone X,14.6
tv,Roku,Express,10.5
"""

EVENTS = [
    {
        "timestamp": "2025-09-09 10:00:00",
        "account_id": "acc_1",
        "video_id": "video_1",
        "user_id": "user_1",
        "event_name": "watch_time",
        "value": 5.5,
        "device": "mobile",
        "app_version": "2.0.1",
        "device_os": "iOS",
        "network_type": "wifi",
        "ip": "10.0.0.1",
        "country": "US",
        "session_id": "user_1_sess_1_0",
    },
    {
        "timestamp": "2025-09-09 10:05:00",
        "account_id": "acc_2",
        "video_id": "video_2",
        "user_id": "user_2",
        "event_name": "play",
        "value": None,
        "device": "tv",
        "app_version": "2.0.0",
        "device_os": "Roku",
        "network_type": "wifi",
        "ip": "10.0.0.2",
        "country": "US",
        "session_id": "user_2_sess_1_0",
    },
]


@pytest.fixture()
def lake(tmp_path):
    lk = LakeStorage(tmp_path / "lake")
    lk.ensure_zones()
    (tmp_path / "data").mkdir()
    for name, text in (
        (f"users_{DATE}.csv", USERS_CSV),
        (f"videos_{DATE}.csv", VIDEOS_CSV),
        (f"devices_{DATE}.csv", DEVICES_CSV),
    ):
        (tmp_path / "data" / name).write_text(text)
    (tmp_path / "data" / f"events_{DATE}.jsonl").write_text(
        "\n".join(json.dumps(e) for e in EVENTS) + "\n"
    )
    lk.seed_landing(tmp_path / "data")
    return lk


# -- S10: filename contract -------------------------------------------------
@pytest.mark.parametrize(
    ("name", "expect"),
    [
        ("users_2025-09-09.csv", ("users", "2025-09-09")),
        ("events_2025-09-09.jsonl", ("events", "2025-09-09")),
        ("user_device_info_2025-01-02.csv", ("user_device_info", "2025-01-02")),
        ("users.csv", ("users", "2099-01-01")),  # undated → default date
        ("snapshot_v2.csv", ("snapshot_v2", "2099-01-01")),  # not a date suffix
    ],
)
def test_parse_landing_filename(name, expect):
    assert parse_landing_filename(name, "2099-01-01") == expect


# -- S6/S7/S8/S9: lake object ops ------------------------------------------
def test_lake_object_ops(lake: LakeStorage, tmp_path):
    listed = lake.list_objects("landing")
    assert f"landing/users_{DATE}.csv" in listed
    assert len(listed) == 4

    lake.copy_object(f"landing/users_{DATE}.csv", f"raw/ingestion_date={DATE}/users_{DATE}.csv")
    assert lake.exists(f"raw/ingestion_date={DATE}/users_{DATE}.csv")

    out = tmp_path / "dl.csv"
    lake.download_file(f"landing/users_{DATE}.csv", out)
    assert out.read_text() == USERS_CSV

    assert lake.get_object_url(f"landing/users_{DATE}.csv").startswith("file://")
    assert lake.delete_object(f"landing/videos_{DATE}.csv")
    assert not lake.exists(f"landing/videos_{DATE}.csv")
    assert not lake.delete_object("landing/nope.csv")


def test_lake_object_ops_on_memory_filesystem(tmp_path):
    """The FS seam is real: the full zone-op surface (seed, list, copy,
    download, delete, discovery, landing→raw) runs unchanged against a
    NON-LOCAL pyarrow filesystem — the same code path an s3://… root
    resolves to via FileSystem.from_uri."""
    import pyarrow.fs as pafs

    (tmp_path / "data").mkdir()
    (tmp_path / "data" / f"users_{DATE}.csv").write_text(USERS_CSV)
    (tmp_path / "data" / f"videos_{DATE}.csv").write_text(VIDEOS_CSV)

    lk = LakeStorage("bucket/lake", filesystem=pafs._MockFileSystem())
    lk.ensure_zones()
    seeded = lk.seed_landing(tmp_path / "data")
    assert seeded == [f"landing/users_{DATE}.csv", f"landing/videos_{DATE}.csv"]
    assert lk.list_objects("landing") == seeded
    assert lk.exists(f"landing/users_{DATE}.csv")

    found = lk.discover_landing(DATE)
    assert set(found) == {"users", "videos"}

    result = LandingToRawProcessor(lk, DATE).run()
    assert result.is_success, result.error
    assert sorted(result.metadata["copied"]) == sorted(
        f.raw_key for f in found.values()
    )
    assert lk.exists(f"raw/ingestion_date={DATE}/users_{DATE}.csv")

    out = tmp_path / "dl.csv"
    lk.download_file(f"raw/ingestion_date={DATE}/users_{DATE}.csv", out)
    assert out.read_text() == USERS_CSV

    assert lk.delete_object(f"landing/users_{DATE}.csv")
    assert not lk.exists(f"landing/users_{DATE}.csv")


def test_stage_out_upload_first_survives_midway_failure(tmp_path):
    """Round-6 review finding: stage_out was delete-then-put, so a
    failure between the deletes and the uploads emptied the target
    prefix — retryable error, permanent data loss. The fixed order
    uploads the new truth first and deletes stale keys last: a midway
    crash leaves old+new mixed (re-run converges), never an empty
    prefix; a clean run removes exactly the stale keys."""
    import pyarrow.fs as pafs

    lk = LakeStorage("bucket/lake", filesystem=pafs._MockFileSystem())
    lk.ensure_zones()
    # Existing partition content (old part file + marker).
    (tmp_path / "old").mkdir()
    (tmp_path / "old" / "part-OLD.parquet").write_text("old-bytes")
    (tmp_path / "old" / "_SUCCESS").write_text("")
    lk.stage_out(tmp_path / "old", "trusted/users/ingestion_date=2025-09-09")

    # New staged rewrite, two files; inject a failure on the SECOND put.
    (tmp_path / "new").mkdir()
    (tmp_path / "new" / "part-NEW-a.parquet").write_text("new-a")
    (tmp_path / "new" / "part-NEW-b.parquet").write_text("new-b")
    real_upload = lk.upload_file
    calls = {"n": 0}

    def failing_upload(local_path, key):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("transient store error")
        real_upload(local_path, key)

    lk.upload_file = failing_upload
    with pytest.raises(OSError):
        lk.stage_out(tmp_path / "new", "trusted/users/ingestion_date=2025-09-09")
    # Old objects are still there — nothing was deleted before uploads.
    keys = lk.list_objects("trusted/users/ingestion_date=2025-09-09")
    assert "trusted/users/ingestion_date=2025-09-09/part-OLD.parquet" in keys

    # Clean re-run replaces the subtree and clears every stale key.
    lk.upload_file = real_upload
    lk.stage_out(tmp_path / "new", "trusted/users/ingestion_date=2025-09-09")
    keys = lk.list_objects("trusted/users/ingestion_date=2025-09-09")
    assert sorted(k.rsplit("/", 1)[-1] for k in keys) == [
        "part-NEW-a.parquet", "part-NEW-b.parquet",
    ]


def test_lake_uri_scheme_mapping(tmp_path):
    """A file:// root resolves through FileSystem.from_uri (the URI
    branch), and object-store schemes are emitted Hadoop-style for
    Spark (s3 → s3a) by the uri()/trusted_path() builders."""
    root = tmp_path / "lk"
    root.mkdir()
    lk = LakeStorage(root.as_uri())
    lk.ensure_zones()
    assert lk.list_objects() == []
    assert lk.trusted_path("events") == f"{root}/trusted/events"

    import pyarrow.fs as pafs

    s3ish = LakeStorage("bucket/lake", filesystem=pafs._MockFileSystem(), scheme="s3")
    assert s3ish.trusted_path("events") == "s3a://bucket/lake/trusted/events"
    assert (
        s3ish.raw_file_path(DATE, "users", "csv")
        == f"s3a://bucket/lake/raw/ingestion_date={DATE}/users_{DATE}.csv"
    )
    # Directory / missing keys: delete returns False, never raises.
    s3ish.ensure_zones()
    assert not s3ish.delete_object("landing")
    assert not s3ish.delete_object("nope.csv")

    # hdfs-style roots keep their authority in emitted URIs (from_uri
    # consumes host:port into the filesystem; uri() must restore it).
    hdfsish = LakeStorage.__new__(LakeStorage)
    hdfsish.fs = pafs._MockFileSystem()
    hdfsish._base = "/lake"
    hdfsish._scheme = "hdfs"
    hdfsish._authority = "nn:8020"
    hdfsish.root = None
    assert hdfsish.trusted_path("events") == "hdfs://nn:8020/lake/trusted/events"


# -- landing→raw ------------------------------------------------------------
def test_landing_to_raw(lake: LakeStorage):
    result = LandingToRawProcessor(lake, DATE).run()
    assert result.is_success, result.error
    raw = lake.list_objects("raw")
    assert raw == [
        f"raw/ingestion_date={DATE}/devices_{DATE}.csv",
        f"raw/ingestion_date={DATE}/events_{DATE}.jsonl",
        f"raw/ingestion_date={DATE}/users_{DATE}.csv",
        f"raw/ingestion_date={DATE}/videos_{DATE}.csv",
    ]
    # Raw is byte-identical to landing (format-preserving zone).
    assert (lake.root / raw[2]).read_text() == USERS_CSV


def test_landing_to_raw_date_filter(lake: LakeStorage):
    """Files for other dates are ignored (reference contract)."""
    lake.upload_file(
        lake.root / f"landing/users_{DATE}.csv", "landing/users_2024-01-01.csv"
    )
    result = LandingToRawProcessor(lake, DATE).run()
    assert result.is_success
    assert not any("2024-01-01" in k for k in lake.list_objects("raw"))


# -- raw→trusted e2e --------------------------------------------------------
def test_raw_to_trusted_e2e(spark, lake: LakeStorage):
    assert LandingToRawProcessor(lake, DATE).run().is_success
    result = RawToTrustedProcessor(spark, lake, DATE).run()
    assert result.is_success, result.error
    assert sorted(result.metadata["tables_created"]) == [
        "trusted_devices",
        "trusted_events",
        "trusted_users",
        "trusted_videos",
    ]

    users = spark.read.parquet(lake.trusted_path("users"))
    assert users.count() == 3
    # P1: ingestion_date stamped and used as the partition column.
    assert users.select("ingestion_date").distinct().collect()[0][0] == DATE
    assert lake.exists(f"trusted/users/ingestion_date={DATE}")

    # Typed parse from the registry, not inference (SURVEY §1.2).
    videos = spark.read.parquet(lake.trusted_path("videos"))
    assert dict(videos.dtypes)["duration_seconds"] == "int"
    devices = spark.read.parquet(lake.trusted_path("devices"))
    assert dict(devices.dtypes)["os_version"] == "decimal(3,1)"

    events = spark.read.parquet(lake.trusted_path("events"))
    rows = {r["user_id"]: r for r in events.collect()}
    assert str(rows["user_1"]["value"]) == "5.5"  # DECIMAL(2,1), reference type
    assert rows["user_2"]["value"] is None  # JSON null survives
    assert rows["user_1"]["timestamp"] == "2025-09-09 10:00:00"  # stays VARCHAR

    # _post_process registered temp views over trusted output.
    assert spark.sql("SELECT COUNT(*) FROM trusted_events").collect()[0][0] == 2


def test_raw_to_trusted_orc_format(spark, lake: LakeStorage):
    """``trusted_format="orc"`` lands the trusted zone as Snappy ORC
    (Spark-core source, no extra package) with identical typing,
    partitioning, per-date overwrite semantics, and queryable views —
    for lakes serving Hive/Trino warehouses that mandate ORC."""
    assert LandingToRawProcessor(lake, DATE).run().is_success
    result = RawToTrustedProcessor(
        spark, lake, DATE, trusted_format="orc"
    ).run()
    assert result.is_success, result.error
    assert result.metadata["format"] == "ORC"

    # ORC part-files under the same Hive-partitioned layout.
    keys = lake.list_objects("trusted/users")
    assert any(
        k.startswith(f"trusted/users/ingestion_date={DATE}/") and ".orc" in k
        for k in keys
    )
    users = spark.read.orc(lake.trusted_path("users"))
    assert users.count() == 3
    assert users.select("ingestion_date").distinct().collect()[0][0] == DATE

    # Registry typing survives the format swap (no inference drift).
    videos = spark.read.orc(lake.trusted_path("videos"))
    assert dict(videos.dtypes)["duration_seconds"] == "int"
    events = spark.read.orc(lake.trusted_path("events"))
    assert dict(events.dtypes)["value"] == "decimal(2,1)"

    # Views registered by _post_process read the ORC output.
    assert spark.sql("SELECT COUNT(*) FROM trusted_events").collect()[0][0] == 2


def test_view_registration_survives_mixed_format_trusted_zone(
    spark, lake: LakeStorage, tmp_path
):
    """A trusted zone holding tables written earlier in the OTHER format
    must not fail view registration: per-table format is sniffed from
    the part-file extensions, not assumed from the current run's
    trusted_format. Day 1 writes everything as parquet; day 2 delivers
    only users and runs with trusted_format='orc' — events/videos/
    devices are still pure parquet and their views must register and be
    queryable, and the run must succeed even though the users table is
    now format-mixed (its view is skipped with a warning, not fatal)."""
    d2 = "2025-09-10"
    assert LandingToRawProcessor(lake, DATE).run().is_success
    assert RawToTrustedProcessor(spark, lake, DATE).run().is_success  # parquet

    (tmp_path / "d2").mkdir()
    (tmp_path / "d2" / f"users_{d2}.csv").write_text(USERS_CSV)
    lake.seed_landing(tmp_path / "d2")
    assert LandingToRawProcessor(lake, d2).run().is_success
    result = RawToTrustedProcessor(spark, lake, d2, trusted_format="orc").run()
    assert result.is_success, result.error  # pre-fix: eager orc read of
    # the parquet-only events table raised and failed the whole run

    # Pure-parquet tables from day 1 registered despite the orc run.
    assert spark.sql("SELECT COUNT(*) FROM trusted_events").collect()[0][0] == 2
    assert spark.sql("SELECT COUNT(*) FROM trusted_videos").collect()[0][0] == 2


def test_raw_to_trusted_orc_pushdown(spark, lake: LakeStorage):
    assert LandingToRawProcessor(lake, DATE).run().is_success
    assert RawToTrustedProcessor(spark, lake, DATE, trusted_format="orc").run().is_success
    users = spark.read.orc(lake.trusted_path("users"))
    # Filters push into the ORC scan like parquet (footer stats real).
    plan = (
        users.filter(F.col("user_id") == "user_1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "user_id" in plan


def test_raw_to_trusted_partition_isolation(spark, lake: LakeStorage):
    """Re-running one date must not clobber another date's partition."""
    assert LandingToRawProcessor(lake, DATE).run().is_success
    assert RawToTrustedProcessor(spark, lake, DATE).run().is_success

    other = "2025-09-10"
    lake.upload_file(lake.root / f"landing/users_{DATE}.csv", f"landing/users_{other}.csv")
    assert LandingToRawProcessor(lake, other).run().is_success
    reg = {"trusted_users": STREAMPRO_TABLES["trusted_users"]}
    assert RawToTrustedProcessor(spark, lake, other, registry=reg).run().is_success

    users = spark.read.parquet(lake.trusted_path("users"))
    dates = {r[0] for r in users.select("ingestion_date").distinct().collect()}
    assert dates == {DATE, other}
    assert users.count() == 6


def test_raw_to_trusted_missing_file_skipped(spark, lake: LakeStorage):
    """A missing raw file skips that table (reference logs-and-continues)."""
    assert LandingToRawProcessor(lake, DATE).run().is_success
    lake.delete_object(f"raw/ingestion_date={DATE}/videos_{DATE}.csv")
    result = RawToTrustedProcessor(spark, lake, DATE).run()
    assert result.is_success
    assert "trusted_videos" not in result.metadata["tables_created"]


def test_failfast_on_corrupt_csv(spark, lake: LakeStorage):
    """Typed trusted parse fails loudly on malformed rows (vs pandas'
    silent coercion in the reference)."""
    (lake.root / f"raw/ingestion_date={DATE}").mkdir(parents=True, exist_ok=True)
    (lake.root / f"raw/ingestion_date={DATE}/videos_{DATE}.csv").write_text(
        "video_id,title,genre,duration_seconds,patent_id\nv1,T,Drama,not_a_number,p1\n"
    )
    reg = {"trusted_videos": STREAMPRO_TABLES["trusted_videos"]}
    result = RawToTrustedProcessor(spark, lake, DATE, registry=reg).run()
    assert not result.is_success


# -- S4/S5: zone writers -----------------------------------------------------
def test_writers_roundtrip(spark, tmp_path):
    from streampro_assignment_etl_spark.pipeline.writers import write_csv, write_parquet

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

    pq = str(tmp_path / "pq")
    write_parquet(df.withColumn("ingestion_date", __import__("pyspark").sql.functions.lit(DATE)), pq, ("ingestion_date",))
    back = spark.read.parquet(pq)
    assert back.count() == df.count()
    assert (tmp_path / "pq" / f"ingestion_date={DATE}").exists()

    csv = str(tmp_path / "csv")
    write_csv(df, csv, single_file=True)
    parts = [p for p in (tmp_path / "csv").iterdir() if p.name.startswith("part-")]
    assert len(parts) == 1  # single-object layout like the reference
    reread = (
        spark.read.option("header", True).schema(df.schema).csv(csv)
    )
    assert sorted(r["c_custkey"] for r in reread.collect()) == sorted(
        r["c_custkey"] for r in df.collect()
    )


# -- CLI ---------------------------------------------------------------------
def test_cli_pipeline_end_to_end(spark, tmp_path, capsys):
    """Drive the argparse surface: seed → pipeline → query list."""
    from streampro_assignment_etl_spark.pipeline.cli import main

    data = tmp_path / "data"
    data.mkdir()
    (data / f"users_{DATE}.csv").write_text(USERS_CSV)
    (data / f"events_{DATE}.jsonl").write_text(
        "\n".join(json.dumps(e) for e in EVENTS) + "\n"
    )
    lake_root = str(tmp_path / "clilake")
    rc = main(
        [
            "pipeline",
            "--lake-root", lake_root,
            "--ingestion_date", DATE,
            "--data-dir", str(data),
        ]
    )
    assert rc == 0
    users = spark.read.parquet(f"{lake_root}/trusted/users")
    assert users.count() == 3

    assert main(["query", "list"]) == 0
    out = capsys.readouterr().out
    assert "pricing_summary" in out
    assert main(["query", "definitely_not_a_query"]) == 2


def test_cli_index_lifecycle(spark, tmp_path, capsys):
    """The `index` subcommand drives the full persisted-IVF-PQ loop —
    build → filtered append → occupancy → compact → expire — and each
    stage prints one JSON line an operator's cron wrapper can parse."""
    from streampro_assignment_etl_spark.operators.ann_index import load_ivfpq_model
    from streampro_assignment_etl_spark.pipeline.cli import main

    ix = str(tmp_path / "ix")
    sf = "/root/testdata/sf0.001"
    assert main(["index", "build", "--path", ix, "--sf-dir", sf]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["epoch"] == 1 and built["residual"] is False

    rc = main(
        [
            "index", "append", "--path", ix, "--sf-dir", sf,
            "--where", "vec_id % 10 = 0", "--ingest-id", "d1",
        ]
    )
    assert rc == 0
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert appended["epoch"] == 2
    assert appended["encoded_dir"] == built["encoded_dir"]  # same snapshot

    assert main(["index", "occupancy", "--path", ix]) == 0
    occ = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert occ["current_total"] > occ["built_total"]

    assert main(["index", "compact", "--path", ix]) == 0
    compacted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert compacted["epoch"] == 3
    assert compacted["encoded_dir"] != built["encoded_dir"]  # new snapshot

    assert main(["index", "expire", "--path", ix, "--min-age-seconds", "0"]) == 0
    gone = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["expired"]
    assert built["encoded_dir"] in gone  # superseded snapshot reaped
    model = load_ivfpq_model(spark, ix)
    assert model.epoch == 3 and model.encoded_dir == compacted["encoded_dir"]

    # maintain: same-distribution growth is a no-op (the appended rows
    # came from the build's own table, so occupancy shape is unmoved)
    rc = main(
        [
            "index", "maintain", "--path", ix, "--sf-dir", sf,
            "--min-age-seconds", "0",
        ]
    )
    assert rc == 0
    maint = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert maint["rebuilt"] is False and maint["epoch"] == 3
    assert maint["tv_drift"] < 0.25
    assert maint["trigger"] is None and maint["recall"] is None

    # recall-arm CLI path (round 13): a floor the served index meets at
    # the default probe budget — the probe RUNS (recall reported) and
    # the loop still no-ops
    rc = main(
        [
            "index", "maintain", "--path", ix, "--sf-dir", sf,
            "--min-age-seconds", "0", "--recall-floor", "0.2",
            "--recall-probe-limit", "20",
        ]
    )
    assert rc == 0
    maint2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert maint2["recall"] is not None and maint2["recall"] >= 0.2
    assert maint2["rebuilt"] is False and maint2["trigger"] is None

    # takedown surface (round 14): missing ids is a usage error; a
    # real delete prints the surgical-rewrite summary and bumps epoch
    assert main(["index", "delete", "--path", ix]) == 2
    capsys.readouterr()
    assert main(["index", "delete", "--path", ix, "--ids", "0,1,2"]) == 0
    deleted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # vec_id 0 landed twice (build + the d1 append re-ingested %10==0)
    assert deleted["requested"] == 3 and deleted["deleted_rows"] == 4
    assert deleted["epoch"] == 4 and deleted["tombstone"].startswith("tombstone-")


def test_cli_dedup_store_lifecycle(spark, tmp_path, capsys):
    """The `dedup` subcommand: sign a corpus into the store, probe an
    arrival batch read-only, and drain a landing dir through the
    streaming ingest — one JSON status line each."""
    from streampro_assignment_etl_spark.pipeline.cli import main
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    st = str(tmp_path / "store")
    sf = "/root/testdata/sf0.001"
    rc = main(
        [
            "dedup", "build-store", "--path", st, "--sf-dir", sf,
            "--where", "substring(source,4,10) < 10",
        ]
    )
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["signed"] == 250
    # ADVICE r12: build-store commits an initial geometry-bearing
    # manifest, so the fence covers the batch-built lifecycle — a
    # mismatched probe is loud, not a silent zero-candidate scan
    man = fsi.load_store_manifest(st)
    assert man is not None and man["epoch"] == 1
    assert man["geometry"] == {"num_hashes": 32, "bands": 8, "shingle_n": 3}
    rc2 = 0
    try:
        main(
            [
                "dedup", "probe", "--path", st, "--sf-dir", sf,
                "--bands", "16", "--num-hashes", "32",
            ]
        )
    except ValueError as e:
        rc2 = 1
        assert "geometry" in str(e)
    assert rc2 == 1
    capsys.readouterr()

    rc = main(
        [
            "dedup", "probe", "--path", st, "--sf-dir", sf,
            "--where", "substring(source,4,10) >= 10",
        ]
    )
    assert rc == 0
    probed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert probed["probed"] == 250 and probed["matched"] > 0

    landing = str(tmp_path / "landing")
    (
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter("substring(source,4,10) >= 10")
        .select("doc_id", "text")
        .coalesce(1)
        .write.parquet(landing)
    )
    rc = main(
        [
            "dedup", "ingest", "--path", st, "--landing", landing,
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    ing = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the probed matches were dropped on ingest; survivors joined docs
    assert ing["decisions"] == probed["matched"]
    assert ing["docs"] == 250 + 250 - probed["matched"]
    assert fsi.read_decisions(spark, st).count() == probed["matched"]

    # maintenance surface: compact (fold subtrees, pointer-swap the
    # manifest) then expire (sweep superseded dirs) — state invariant
    rc = main(
        ["dedup", "compact", "--path", st, "--decisions-keep-seconds", "1e6"]
    )
    assert rc == 0
    comp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert comp["epoch"] == 3  # build-store=1, ingest batch=2, compact=3
    assert fsi.read_store_docs(spark, st).count() == ing["docs"]
    assert fsi.read_decisions(spark, st).count() == ing["decisions"]
    # zero grace is explicit test-only opt-in: the CLI default is the
    # 24 h horizon (ADVICE r12 — zero grace could reap a superseded
    # snapshot under an in-flight reader)
    rc = main(["dedup", "expire", "--path", st, "--min-age-seconds", "0"])
    assert rc == 0
    exp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"store", "docs", "decisions"} <= set(exp["expired"])  # legacy dirs
    assert fsi.read_store_docs(spark, st).count() == ing["docs"]
    assert fsi.read_store_bands(spark, st).count() == ing["docs"] * 8

    # one-call operational surface (VERDICT r12 #5): stats + composed
    # maintain — post-compaction the store is 1 subtree per kind, so
    # maintain is a measured no-op
    rc = main(["dedup", "stats", "--path", st])
    assert rc == 0
    stat = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stat["docs"] == ing["docs"] and stat["decisions"] == ing["decisions"]
    assert stat["geometry"]["bands"] == 8
    assert max(stat["subtrees"].values()) == 1
    rc = main(["dedup", "maintain", "--path", st, "--min-age-seconds", "0"])
    assert rc == 0
    mnt = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert mnt["compacted"] is False and mnt["threshold"] == 16

    assert main(["dedup", "ingest", "--path", st]) == 2  # missing args

    # takedown surface (round 14)
    assert main(["dedup", "remove", "--path", st]) == 2
    capsys.readouterr()
    victim = fsi.read_store_docs(spark, st).select("doc_id").first()["doc_id"]
    assert main(["dedup", "remove", "--path", st, "--ids", str(victim)]) == 0
    rem = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rem["removed_docs"] == 1 and rem["removed_band_rows"] == 8
    assert fsi.read_store_docs(spark, st).filter(
        F.col("doc_id") == victim
    ).count() == 0
    assert fsi.tombstoned_ids(st) == [victim]


def test_cli_pipeline_end_to_end_on_memory_filesystem(spark, tmp_path):
    """VERDICT r5 #3: the FULL pipeline CLI path (seed → landing→raw
    copy → raw→trusted Spark parse → trusted parquet → query over the
    registered views) runs against an in-memory pyarrow filesystem
    through the ``filesystem=`` seam — zone ops on the injected store,
    Spark I/O bridged via stage_in/stage_out, with all lake state
    living in the non-local store."""
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.cli import main

    data = tmp_path / "data"
    data.mkdir()
    (data / f"users_{DATE}.csv").write_text(USERS_CSV)
    (data / f"videos_{DATE}.csv").write_text(VIDEOS_CSV)
    (data / f"events_{DATE}.jsonl").write_text(
        "\n".join(json.dumps(e) for e in EVENTS) + "\n"
    )

    memlake = LakeStorage("bucket/lake", filesystem=pafs._MockFileSystem())
    rc = main(
        [
            "pipeline",
            "--lake-root", "memory://bucket/lake",
            "--ingestion_date", DATE,
            "--data-dir", str(data),
        ],
        lake_factory=lambda root: memlake,
    )
    assert rc == 0

    # Lake state lives in the injected store: raw zone got the copies,
    # trusted zone got partitioned parquet part-files.
    assert memlake.exists(f"raw/ingestion_date={DATE}/users_{DATE}.csv")
    trusted_keys = memlake.list_objects("trusted")
    assert any(
        k.startswith(f"trusted/users/ingestion_date={DATE}/") and ".parquet" in k
        for k in trusted_keys
    )
    assert any(k.startswith("trusted/events/") for k in trusted_keys)

    # The post-process views are queryable (staged back in through the
    # seam): full landing→raw→trusted→query composition.
    assert spark.sql("SELECT count(*) AS n FROM trusted_users").first()["n"] == 3
    got = spark.sql(
        "SELECT event_name, count(*) AS n FROM trusted_events GROUP BY event_name"
    ).collect()
    assert {(r["event_name"], r["n"]) for r in got} == {("watch_time", 1), ("play", 1)}

    # Round-trip integrity through the store: the trusted parquet bytes
    # in the memory fs parse back to the same rows Spark wrote.
    local = memlake.stage_in("trusted/users", tmp_path / "check")
    back = spark.read.parquet(local)
    assert sorted(r["user_id"] for r in back.collect()) == [
        "user_1", "user_2", "user_3",
    ]


@pytest.mark.skipif(
    "SPARK_GRAFT_S3_TEST_ROOT" not in __import__("os").environ,
    reason="integration: set SPARK_GRAFT_S3_TEST_ROOT=s3://bucket/prefix "
    "(+ AWS creds) to exercise the real S3 wire protocol",
)
def test_lake_object_ops_against_real_s3(tmp_path):
    """Round-5 VERDICT residual #1: the FS seam resolves s3:// via
    FileSystem.from_uri, but the sandbox has no object store — this
    marker runs the full zone-op surface against a REAL bucket when
    credentials exist (opt-in via SPARK_GRAFT_S3_TEST_ROOT)."""
    import os
    import uuid

    root = os.environ["SPARK_GRAFT_S3_TEST_ROOT"].rstrip("/")
    lk = LakeStorage(f"{root}/it-{uuid.uuid4().hex[:8]}")
    lk.ensure_zones()
    (tmp_path / f"users_{DATE}.csv").write_text(USERS_CSV)
    assert lk.seed_landing(tmp_path) == [f"landing/users_{DATE}.csv"]
    assert lk.list_objects("landing") == [f"landing/users_{DATE}.csv"]
    # server-side CopyObject path
    lk.copy_object(
        f"landing/users_{DATE}.csv", f"raw/ingestion_date={DATE}/users_{DATE}.csv"
    )
    assert lk.exists(f"raw/ingestion_date={DATE}/users_{DATE}.csv")
    out = tmp_path / "dl.csv"
    lk.download_file(f"landing/users_{DATE}.csv", out)
    assert out.read_text() == USERS_CSV
    assert lk.trusted_path("events").startswith("s3a://")
    for key in lk.list_objects(""):
        lk.delete_object(key)


def test_lake_object_ops_against_moto_s3(tmp_path, moto_s3):
    """The S3 seam over REAL wire protocol, hermetically: an in-process
    moto server speaks HTTP S3 (ListObjectsV2 / multipart PUT /
    server-side CopyObject / DELETE), ``LakeStorage("s3://…")`` resolves
    through the genuine ``FileSystem.from_uri`` branch (endpoint routed
    via AWS_ENDPOINT_URL, which pyarrow's AWS SDK honors at client
    construction), and the full zone-op surface runs unchanged —
    closing the round-5 residual that the seam was only ever proven on
    LocalFileSystem and an injected in-memory store. The opt-in
    ``SPARK_GRAFT_S3_TEST_ROOT`` marker above remains for a REAL bucket."""
    import boto3

    boto3.client("s3", endpoint_url=moto_s3).create_bucket(
        Bucket="sparkgraft-it"
    )

    (tmp_path / "data").mkdir()
    (tmp_path / "data" / f"users_{DATE}.csv").write_text(USERS_CSV)
    (tmp_path / "data" / f"videos_{DATE}.csv").write_text(VIDEOS_CSV)

    lk = LakeStorage("s3://sparkgraft-it/lake")  # real from_uri branch
    assert lk.spark_readable
    assert lk.trusted_path("events") == "s3a://sparkgraft-it/lake/trusted/events"

    lk.ensure_zones()
    seeded = lk.seed_landing(tmp_path / "data")  # multipart uploads
    assert seeded == [
        f"landing/users_{DATE}.csv",
        f"landing/videos_{DATE}.csv",
    ]
    assert lk.list_objects("landing") == seeded  # ListObjectsV2
    found = lk.discover_landing(DATE)
    assert set(found) == {"users", "videos"}

    # landing→raw: server-side CopyObject per discovered file.
    result = LandingToRawProcessor(lk, DATE).run()
    assert result.is_success, result.error
    assert lk.exists(f"raw/ingestion_date={DATE}/users_{DATE}.csv")

    out = tmp_path / "dl.csv"
    lk.download_file(f"raw/ingestion_date={DATE}/users_{DATE}.csv", out)
    assert out.read_text() == USERS_CSV  # byte-identical through copy

    assert lk.delete_object(f"landing/users_{DATE}.csv")
    assert not lk.exists(f"landing/users_{DATE}.csv")

    # Round-trip the byte plane once more via upload/download on a
    # multi-MiB payload so the multipart path carries >1 chunk.
    big = tmp_path / "big.bin"
    big.write_bytes(b"\x5a" * (6 << 20))
    lk.upload_file(big, "landing/big.bin")
    back = tmp_path / "big_back.bin"
    lk.download_file("landing/big.bin", back)
    assert back.read_bytes() == big.read_bytes()


def test_cli_pipeline_end_to_end_against_moto_s3(spark, tmp_path, moto_s3):
    """Full pipeline CLI (seed → landing→raw CopyObject → raw→trusted
    Spark parse → trusted parquet → query views) with ALL lake state in
    an HTTP S3 store. This sandbox's Spark has no hadoop-aws connector,
    so the lake is injected without ``scheme`` — the not-spark-readable
    configuration — and Spark I/O flows through the stage_in/stage_out
    bridge while every zone op speaks real S3 wire protocol."""
    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.cli import main

    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket="sparkgraft-cli")
    s3fs = pafs.S3FileSystem(
        endpoint_override=moto_s3,
        access_key="testing",
        secret_key="testing",
        region="us-east-1",
    )
    s3lake = LakeStorage("sparkgraft-cli/lake", filesystem=s3fs)
    assert not s3lake.spark_readable  # forces the staging bridge

    data = tmp_path / "data"
    data.mkdir()
    (data / f"users_{DATE}.csv").write_text(USERS_CSV)
    (data / f"events_{DATE}.jsonl").write_text(
        "\n".join(json.dumps(e) for e in EVENTS) + "\n"
    )

    rc = main(
        [
            "pipeline",
            "--lake-root", "s3://sparkgraft-cli/lake",
            "--ingestion_date", DATE,
            "--data-dir", str(data),
        ],
        lake_factory=lambda root: s3lake,
    )
    assert rc == 0

    # Raw got server-side copies; trusted got Spark-written parquet,
    # staged out to S3 — verify via an independent client (boto3).
    assert s3lake.exists(f"raw/ingestion_date={DATE}/users_{DATE}.csv")
    s3_keys = [
        o["Key"]
        for o in boto3.client("s3", endpoint_url=moto_s3).list_objects_v2(
            Bucket="sparkgraft-cli", Prefix="lake/trusted"
        )["Contents"]
    ]
    assert any(
        k.startswith(f"lake/trusted/users/ingestion_date={DATE}/")
        and ".parquet" in k
        for k in s3_keys
    )

    # Query composition over the registered views, then byte-level
    # round-trip: the parquet S3 holds parses back to the same rows.
    assert spark.sql("SELECT count(*) AS n FROM trusted_users").first()["n"] == 3
    local = s3lake.stage_in("trusted/users", tmp_path / "check")
    got = spark.read.parquet(local)
    assert sorted(r["user_id"] for r in got.collect()) == [
        "user_1", "user_2", "user_3",
    ]


def test_lake_uri_raises_without_scheme_on_nonlocal_fs():
    """An injected non-local filesystem without ``scheme`` has no
    Spark-readable locations: uri()/raw_file_path()/trusted_path() must
    raise loudly instead of returning a bare in-filesystem path Spark
    would silently resolve against the LOCAL filesystem."""
    import pyarrow.fs as pafs

    lk = LakeStorage("bucket/lake", filesystem=pafs._MockFileSystem())
    assert not lk.spark_readable
    for call in (
        lambda: lk.uri("raw"),
        lambda: lk.raw_file_path(DATE, "users", "csv"),
        lambda: lk.trusted_path("events"),
        lambda: lk.get_object_url("landing/x.csv"),
    ):
        with pytest.raises(ValueError, match="Spark-readable"):
            call()
    # With a scheme the same construction emits real URIs; with a local
    # fs injected, plain paths remain valid.
    assert LakeStorage(
        "bucket/lake", filesystem=pafs._MockFileSystem(), scheme="s3"
    ).spark_readable


# -- env-driven settings -----------------------------------------------------
def test_settings_precedence(tmp_path, monkeypatch):
    from streampro_assignment_etl_spark.pipeline.config import get_settings

    cfg = tmp_path / "config"
    cfg.mkdir()
    (cfg / "dev.env").write_text("LAKE_ROOT=/dev/lake\nLOG_LEVEL=DEBUG\n")
    (cfg / "prod.env").write_text("LAKE_ROOT=s3a://bucket/lake\n")

    monkeypatch.delenv("LAKE_ROOT", raising=False)
    dev = get_settings("dev", cfg)
    assert dev.LAKE_ROOT == "/dev/lake"
    assert dev.LOG_LEVEL == "DEBUG"
    assert dev.LANDING_PREFIX == "landing"  # code default fills gaps

    prod = get_settings("prod", cfg)
    assert prod.LAKE_ROOT == "s3a://bucket/lake"
    assert prod.LOG_LEVEL == "INFO"  # prod file doesn't set it

    # Unknown env falls back to dev.env (reference contract).
    assert get_settings("staging", cfg).LAKE_ROOT == "/dev/lake"

    # Process env beats file.
    monkeypatch.setenv("LAKE_ROOT", "/override")
    assert get_settings("dev", cfg).LAKE_ROOT == "/override"


def test_quarantine_mode_splits_corrupt_rows(spark, lake: LakeStorage):
    """bad_rows='quarantine': clean rows reach trusted, malformed lines
    land raw-as-text under quarantine/ — nothing dies, nothing vanishes."""
    (lake.root / f"raw/ingestion_date={DATE}").mkdir(parents=True, exist_ok=True)
    (lake.root / f"raw/ingestion_date={DATE}/videos_{DATE}.csv").write_text(
        "video_id,title,genre,duration_seconds,patent_id\n"
        "v1,Good Title,Drama,1200,p1\n"
        "v2,Bad Row,Comedy,not_a_number,p2\n"
        "v3,Another Good,Action,900,p3\n"
    )
    reg = {"trusted_videos": STREAMPRO_TABLES["trusted_videos"]}
    result = RawToTrustedProcessor(
        spark, lake, DATE, registry=reg, bad_rows="quarantine"
    ).run()
    assert result.is_success, result.error
    assert result.metadata["quarantined"] == {"trusted_videos": 1}

    trusted = spark.read.parquet(lake.trusted_path("videos"))
    assert sorted(r["video_id"] for r in trusted.collect()) == ["v1", "v3"]

    qpath = lake.root / "quarantine" / "videos" / f"ingestion_date={DATE}"
    bad = spark.read.text(str(qpath)).collect()
    assert len(bad) == 1 and "not_a_number" in bad[0]["value"]

    # Invalid policy rejected up front.
    with pytest.raises(ValueError):
        RawToTrustedProcessor(spark, lake, DATE, bad_rows="ignore")


def test_cli_backfill_date_range(spark, tmp_path):
    """--backfill START:END processes every date in the range on one
    SparkSession."""
    from streampro_assignment_etl_spark.pipeline.cli import main

    data = tmp_path / "data"
    data.mkdir()
    (data / "users_2025-09-09.csv").write_text(USERS_CSV)
    (data / "users_2025-09-10.csv").write_text(USERS_CSV)
    lake_root = str(tmp_path / "bflake")
    rc = main(
        [
            "pipeline",
            "--lake-root", lake_root,
            "--backfill", "2025-09-09:2025-09-10",
            "--data-dir", str(data),
        ]
    )
    assert rc == 0
    users = spark.read.parquet(f"{lake_root}/trusted/users")
    dates = {r[0] for r in users.select("ingestion_date").distinct().collect()}
    assert dates == {"2025-09-09", "2025-09-10"}
    assert users.count() == 6


def test_backfill_registers_views_for_tables_absent_on_final_date(spark, tmp_path):
    """Round-6 review finding: backfill registers views only on the
    final date, so a table whose raw file is missing on that date (a
    weekly-delivered feed) silently lost its view even though earlier
    dates populated its trusted zone. Views now cover every registry
    table with trusted data regardless of which date created it."""
    from streampro_assignment_etl_spark.pipeline.cli import main

    data = tmp_path / "data"
    data.mkdir()
    # users delivered on date 1 only; videos delivered on BOTH dates so
    # the final date still succeeds with work to do.
    (data / "users_2025-09-09.csv").write_text(USERS_CSV)
    (data / "videos_2025-09-09.csv").write_text(VIDEOS_CSV)
    (data / "videos_2025-09-10.csv").write_text(VIDEOS_CSV)
    lake_root = str(tmp_path / "wflake")
    rc = main(
        [
            "pipeline",
            "--lake-root", lake_root,
            "--backfill", "2025-09-09:2025-09-10",
            "--data-dir", str(data),
        ]
    )
    assert rc == 0
    # The weekly table's view exists and serves its date-1 data.
    assert spark.sql("SELECT COUNT(*) FROM trusted_users").collect()[0][0] == 3
    assert spark.sql("SELECT COUNT(*) FROM trusted_videos").collect()[0][0] == 4


def test_cli_backfill_failure_cleans_staging_dirs(spark, tmp_path):
    """A mid-backfill failure must not leak mkdtemp staging dirs: the
    failed date's staging (it registered no views) AND the previous
    intermediate date's staging (only the final date registers views)
    are both released before the nonzero rc returns. The in-memory lake
    forces the staging bridge, so leaks would be real directories."""
    import glob
    import tempfile

    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.cli import main

    d1, d2 = "2025-09-09", "2025-09-10"
    data = tmp_path / "data"
    data.mkdir()
    (data / f"videos_{d1}.csv").write_text(VIDEOS_CSV)
    (data / f"videos_{d2}.csv").write_text(
        VIDEOS_CSV + "video_9,Broken,Action,not_a_number,patent_9\n"
    )

    before = set(glob.glob(f"{tempfile.gettempdir()}/streampro_stage_*"))
    memlake = LakeStorage("bucket/lake", filesystem=pafs._MockFileSystem())
    rc = main(
        [
            "pipeline",
            "--lake-root", "memory://bucket/lake",
            "--backfill", f"{d1}:{d2}",
            "--data-dir", str(data),
        ],
        lake_factory=lambda root: memlake,
    )
    assert rc != 0  # FAILFAST on the malformed d2 row
    after = set(glob.glob(f"{tempfile.gettempdir()}/streampro_stage_*"))
    assert after == before  # no staging dirs leaked by the failure path
    # Day 1's trusted output survived the day-2 failure.
    assert any(
        k.startswith(f"trusted/videos/ingestion_date={d1}/")
        for k in memlake.list_objects("trusted/videos")
    )


def test_compact_parquet_flat_and_partitioned(spark, tmp_path):
    from streampro_assignment_etl_spark.pipeline.writers import compact_parquet

    df = spark.range(0, 10_000).selectExpr(
        "id", "id % 3 AS part", "repeat('x', 50) AS pad"
    )

    # Flat layout: 64 shards -> ~1 file.
    flat = tmp_path / "flat"
    df.repartition(64).write.parquet(str(flat))
    stats = compact_parquet(spark, str(flat))
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1
    assert spark.read.parquet(str(flat)).count() == 10_000

    # Partitioned layout: compaction preserves the Hive dirs and rows.
    part = tmp_path / "part"
    df.repartition(32).write.partitionBy("part").parquet(str(part))
    before = sum(1 for p in part.rglob("*.parquet"))
    stats = compact_parquet(spark, str(part), partition_col="part")
    assert stats["files_before"] == before
    assert stats["files_after"] <= 3  # one file per partition value
    out = spark.read.parquet(str(part))
    assert out.count() == 10_000
    assert out.select("part").distinct().count() == 3


def test_merge_upsert_flat_and_partitioned(spark, tmp_path):
    from streampro_assignment_etl_spark.pipeline.writers import merge_upsert

    base = spark.createDataFrame(
        [(i, f"v{i}", i % 2) for i in range(100)], "id INT, val STRING, part INT"
    )

    # Flat target: 10 updates + 5 inserts.
    flat = tmp_path / "flat"
    base.write.parquet(str(flat))
    updates = spark.createDataFrame(
        [(i, "NEW", i % 2) for i in range(95, 110)], "id INT, val STRING, part INT"
    )
    stats = merge_upsert(spark, str(flat), updates, keys=("id",))
    assert stats == {"target_rows_before": 100, "updated": 5, "inserted": 10}
    out = spark.read.parquet(str(flat))
    assert out.count() == 110
    assert out.filter("val = 'NEW'").count() == 15
    assert out.filter("id = 97 AND val = 'NEW'").count() == 1

    # Partitioned target: only the touched partition is rewritten —
    # since round 17 through the .mrg- manifest swap, so the untouched
    # partition is untouched BYTES, not merely the same rows (the
    # previous whole-table swap rewrote everything and only pruned the
    # anti-join; measured 5.75 s for a 2M-row/1-touched-partition
    # merge, SCALE.md).
    import pathlib

    part = tmp_path / "part"
    base.write.partitionBy("part").parquet(str(part))
    untouched_bytes = {
        p: p.read_bytes()
        for p in pathlib.Path(part / "part=1").rglob("*.parquet")
    }
    upd_part = spark.createDataFrame(
        [(2, "P", 0), (200, "P", 0)], "id INT, val STRING, part INT"
    )
    stats = merge_upsert(spark, str(part), upd_part, keys=("id",), partition_col="part")
    assert stats == {"target_rows_before": 50, "updated": 1, "inserted": 1}
    out = spark.read.parquet(str(part))
    assert out.count() == 101
    assert out.filter("val = 'P'").count() == 2
    assert out.filter("part = 1").count() == 50  # untouched partition intact
    for p, want_bytes in untouched_bytes.items():
        assert p.read_bytes() == want_bytes  # byte-identical, not rewritten

    # inserts into a partition that doesn't exist yet are pure adds
    upd_new = spark.createDataFrame(
        [(300, "N", 9)], "id INT, val STRING, part INT"
    )
    stats = merge_upsert(spark, str(part), upd_new, keys=("id",), partition_col="part")
    assert stats == {"target_rows_before": 0, "updated": 0, "inserted": 1}
    assert spark.read.parquet(str(part)).filter("part = 9").count() == 1

    # whole-table merges refuse object-store targets loudly
    with pytest.raises(ValueError, match="partition_col"):
        merge_upsert(spark, "s3://bucket/t", upd_new, keys=("id",))

    # crash replay: a hand-fabricated committed .mrg- manifest replays
    # through the maintenance tick (promote staged -> final, drop old)
    import json as _json

    from streampro_assignment_etl_spark.pipeline.writers import (
        maintain_lake_table,
    )

    root = pathlib.Path(part)
    old_rel = next(
        p.relative_to(root).as_posix()
        for p in (root / "part=9").rglob("*.parquet")
    )
    staged_rel = "part=9/.mrg-00000000dead-0.parquet"
    final_rel = "part=9/part-mrg-00000000dead-0.parquet"
    (root / staged_rel).write_bytes((root / old_rel).read_bytes())
    (root / ".mrg-manifest-00000000dead.json").write_text(
        _json.dumps(
            [{"partition": "part=9", "old": [old_rel], "retire": [],
              "staged": [staged_rel], "final": [final_rel]}]
        )
    )
    tick = maintain_lake_table(spark, str(part), max_files=999)
    assert tick["merge_swap_recovered"] is True
    assert not (root / old_rel).exists()
    assert (root / final_rel).exists()
    assert spark.read.parquet(str(part)).filter("part = 9").count() == 1


def test_merge_upsert_partitioned_against_moto_s3(spark, tmp_path, moto_s3):
    """Round 17: the partition-scoped merge commits through the same
    manifest swap on object stores (injected-filesystem bridge route —
    only the TOUCHED partitions mirror to the driver). Pins keyed
    semantics over the wire protocol, untouched-partition ETag
    identity, and the pure-insert new-partition path."""
    import boto3
    import pyarrow.dataset as pads
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import merge_upsert

    base_df = spark.createDataFrame(
        [(i, f"v{i}", i % 2) for i in range(100)],
        "id INT, val STRING, part INT",
    )
    local = tmp_path / "seed"
    base_df.write.partitionBy("part").parquet(str(local))

    bucket = "sparkgraft-merge"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/merge_t"
    for p in local.rglob("*.parquet"):
        rel = p.relative_to(local).as_posix()
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        with open(p, "rb") as f, fs.open_output_stream(f"{s3tbl}/{rel}") as o:
            o.write(f.read())

    def etags(prefix):
        return {
            o["Key"]: o["ETag"]
            for o in s3.list_objects_v2(
                Bucket=bucket, Prefix=f"lake/merge_t/{prefix}"
            ).get("Contents", [])
            if o["Key"].endswith(".parquet")
        }

    before_p1 = etags("part=1/")
    assert before_p1

    upd = spark.createDataFrame(
        [(2, "REMOTE", 0), (200, "REMOTE", 0), (300, "NEWPART", 9)],
        "id INT, val STRING, part INT",
    )
    stats = merge_upsert(
        spark, s3tbl, upd, keys=("id",), partition_col="part",
        filesystem=fs,
    )
    assert stats == {"target_rows_before": 50, "updated": 1, "inserted": 2}

    tbl = pads.dataset(
        s3tbl, filesystem=fs, format="parquet", partitioning="hive"
    ).to_table()
    import pandas as pd  # noqa: F401

    pdf = tbl.to_pandas()
    assert len(pdf) == 102
    assert set(pdf[pdf.val == "REMOTE"].id) == {2, 200}
    assert set(pdf[pdf.part == 9].id) == {300}
    assert len(pdf[pdf.part == 1]) == 50
    assert etags("part=1/") == before_p1  # untouched bytes, not re-put


def test_merge_upsert_duplicate_policy_and_edge_layouts(spark, tmp_path):
    """Round 18 (VERDICT r17 #2/#4/nit, ADVICE r17 #2). Duplicate-key
    policy is DETERMINISTIC: exact full-row duplicates collapse;
    conflicting same-key rows RAISE unless order_by names a non-key
    column, in which case the greatest (order_by, *rest) row wins — a
    total order, so re-running the identical merge reproduces the
    identical table. Edge layouts: a pre-created EMPTY target is a
    pure insert (not an 'unable to infer schema' crash), and stray
    root-level parquet files in a partitioned target refuse loudly."""
    import pathlib
    import shutil

    from streampro_assignment_etl_spark.pipeline.writers import merge_upsert

    base = spark.createDataFrame(
        [(i, f"v{i}", i % 2, 0) for i in range(10)],
        "id INT, val STRING, part INT, seq INT",
    )

    # conflicting duplicates with no order_by: loud refusal, and the
    # target is untouched (the check happens before any read/write)
    flat = tmp_path / "dupflat"
    base.write.parquet(str(flat))
    conflict = spark.createDataFrame(
        [(1, "A", 1, 1), (1, "B", 1, 2), (99, "N", 1, 1)],
        "id INT, val STRING, part INT, seq INT",
    )
    with pytest.raises(ValueError, match="CONFLICTING"):
        merge_upsert(spark, str(flat), conflict, keys=("id",))
    assert spark.read.parquet(str(flat)).filter("val = 'A'").count() == 0

    # exact full-row duplicates are unambiguous: collapse silently
    exact_dup = spark.createDataFrame(
        [(1, "X", 1, 1), (1, "X", 1, 1)], "id INT, val STRING, part INT, seq INT"
    )
    stats = merge_upsert(spark, str(flat), exact_dup, keys=("id",))
    assert stats == {"target_rows_before": 10, "updated": 1, "inserted": 0}

    # order_by: greatest (order_by, *rest) wins — seq=2 beats seq=1,
    # and the seq-tie (id=3) resolves by the rest of the row, so two
    # runs of the SAME ambiguous batch produce the SAME table
    part = tmp_path / "duppart"
    base.write.partitionBy("part").parquet(str(part))
    racy = spark.createDataFrame(
        [(1, "old", 1, 1), (1, "new", 1, 2), (3, "tie_a", 1, 7), (3, "tie_z", 1, 7)],
        "id INT, val STRING, part INT, seq INT",
    )
    for ck in ("first", "second"):  # idempotent re-run, same winners
        stats = merge_upsert(
            spark, str(part), racy, keys=("id",), partition_col="part",
            order_by="seq",
        )
        assert stats["updated"] == 2 and stats["inserted"] == 0, ck
        got = {
            r["id"]: (r["val"], r["seq"])
            for r in spark.read.parquet(str(part))
            .filter("id IN (1, 3)")
            .collect()
        }
        assert got == {1: ("new", 2), 3: ("tie_z", 7)}, ck

    with pytest.raises(ValueError, match="key column"):
        merge_upsert(spark, str(part), racy, keys=("id",), order_by="id")
    with pytest.raises(ValueError, match="not a column"):
        merge_upsert(spark, str(part), racy, keys=("id",), order_by="nope")

    # pre-created empty target (zero visible parquet files): the old
    # non-bridge route crashed with 'unable to infer schema'; now a
    # pure insert, mirroring the bridge route (ADVICE r17 #2)
    empty = tmp_path / "empty_t"
    empty.mkdir()
    ins = spark.createDataFrame(
        [(1, "first", 0, 1)], "id INT, val STRING, part INT, seq INT"
    )
    stats = merge_upsert(spark, str(empty), ins, keys=("id",), partition_col="part")
    assert stats == {"target_rows_before": 0, "updated": 0, "inserted": 1}
    assert spark.read.parquet(str(empty)).count() == 1

    # stray ROOT-level parquet beside partition dirs: a partitioned
    # merge cannot account for it (silent table-wide duplicate keys if
    # it holds a touched key) — refuse loudly (VERDICT r17 nit)
    root = pathlib.Path(part)
    src = next((root / "part=1").rglob("*.parquet"))
    shutil.copy2(src, root / "stray.parquet")
    with pytest.raises(ValueError, match="leaf partition depth"):
        merge_upsert(
            spark, str(part), ins, keys=("id",), partition_col="part"
        )


def test_read_table_snapshot_bridge_races_promote_window(
    spark, tmp_path, moto_s3
):
    """Round 18 (VERDICT r17 missing (c)): the hermetic-bridge lake
    gets a pinned LIVE read. read_table_snapshot(filesystem=) mirrors
    the one listing's visible set driver-locally; a racing swap's
    promote window (promoted twins beside originals) inflates a naive
    listing-based read while the pinned read stays exact — and because
    the mirror is physical, the pin survives even the swap COMPLETING
    (olds deleted), the documented isolation/durability divergence
    from the connector route."""
    import boto3
    import pyarrow.dataset as pads
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.release import (
        read_table_snapshot,
    )

    local = tmp_path / "snapseed"
    spark.range(0, 500).selectExpr("id", "id % 2 AS part").repartition(
        4
    ).write.partitionBy("part").parquet(str(local))

    bucket = "sparkgraft-snap"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/snap_t"
    rels = []
    for p in local.rglob("*.parquet"):
        rel = p.relative_to(local).as_posix()
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        rels.append(rel)
        with open(p, "rb") as f, fs.open_output_stream(f"{s3tbl}/{rel}") as o:
            o.write(f.read())

    snap = read_table_snapshot(spark, s3tbl, filesystem=fs)

    # mid-promote: a promoted-looking twin lands beside its original
    twin_src = rels[0]
    twin = f"{twin_src.rsplit('/', 1)[0]}/part-cmp000000000000-0.parquet"
    with fs.open_input_stream(f"{s3tbl}/{twin_src}") as s, \
            fs.open_output_stream(f"{s3tbl}/{twin}") as o:
        o.write(s.read())
    naive = pads.dataset(
        s3tbl, filesystem=fs, format="parquet", partitioning="hive"
    ).to_table().num_rows
    assert naive > 500  # the torn listing double-counts
    assert snap.count() == 500  # the pin is exact
    assert sorted(r["id"] for r in snap.collect()) == list(range(500))

    # the swap completes: olds gone — the mirrored pin still reads
    # (total isolation; no loud durability signal on the bridge)
    fs.delete_file(f"{s3tbl}/{twin_src}")
    assert snap.count() == 500


def test_delete_where_full_wipe_leaves_readable_empty_table(
    spark, tmp_path
):
    """Round 18 (found by the delete≡filter hypothesis property): a
    delete matching EVERY row used to leave a table with zero visible
    parquet files — unreadable ('unable to infer schema') for every
    later reader, merge, or snapshot. SQL DELETE leaves an EMPTY
    table, not a missing one: the full wipe now keeps ONE zero-row
    survivor as the schema anchor. Partial deletes keep the r16
    no-empty-survivors rule (an emptied partition vanishes)."""
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        delete_where,
        merge_upsert,
    )

    # flat layout, direct route
    flat = str(tmp_path / "wipe_flat")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, val string"
    ).repartition(3).write.parquet(flat)
    out = delete_where(spark, flat, F.lit(True))
    assert out["rows_deleted"] == 20
    emptied = spark.read.parquet(flat)
    assert emptied.count() == 0
    assert emptied.columns == ["id", "val"]  # schema survives the wipe
    # idempotent: nothing left to delete, nothing rewritten
    out2 = delete_where(spark, flat, F.lit(True))
    assert out2 == {"rows_deleted": 0, "files_rewritten": 0, "files_total": 1}
    # and the emptied table is a working merge target (pure insert)
    merge_upsert(
        spark,
        flat,
        spark.createDataFrame([(99, "back")], "id long, val string"),
        keys=("id",),
    )
    assert spark.read.parquet(flat).count() == 1

    # Hive layout through the injected-filesystem bridge route: the
    # anchor lands inside a partition dir (full schema incl. the
    # partition column survives; one partition value stays visible)
    part = str(tmp_path / "wipe_part")
    spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(10)], "id long, day string"
    ).repartition(2).write.partitionBy("day").parquet(part)
    out = delete_where(
        spark, part, F.lit(True), filesystem=pafs.LocalFileSystem()
    )
    assert out["rows_deleted"] == 10
    emptied = spark.read.parquet(part)
    assert emptied.count() == 0
    assert sorted(emptied.columns) == ["day", "id"]

    # partial deletes still vanish an emptied partition (r16 rule)
    part2 = str(tmp_path / "wipe_one_part")
    spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(10)], "id long, day string"
    ).write.partitionBy("day").parquet(part2)
    delete_where(spark, part2, F.col("day") == "d0")
    import pathlib

    # no empty survivor lingers in the emptied partition (the dir
    # itself may remain; visibility is file-based)
    assert not list((pathlib.Path(part2) / "day=d0").rglob("*.parquet"))
    assert spark.read.parquet(part2).count() == 5


def test_verify_release_fsck(spark, tmp_path, capsys):
    """Round 18: verify_release is the proactive integrity fsck of the
    audit layer — read_release fails loudly at read time; this reports
    the damage BEFORE a training job trips over it. Pins: all-live ok;
    protected maintenance resolves retired and stays ok; a truncated
    parked file = size mismatch; a manifest/footer row disagreement =
    row mismatch (only with check_rows=True); unprotected maintenance
    = missing files; the CLI face exits 0 ok / 1 damaged."""
    import json as _json
    import pathlib

    from streampro_assignment_etl_spark.pipeline.cli import main
    from streampro_assignment_etl_spark.pipeline.release import (
        snapshot_release,
        verify_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import delete_where

    tbl = str(tmp_path / "fsck_t")
    spark.range(0, 300).selectExpr("id", "id % 3 AS day").repartition(
        2
    ).write.partitionBy("day").parquet(tbl)
    snapshot_release(tbl, "r1")

    out = verify_release(tbl, "r1", check_rows=True)
    assert out["ok"] is True and out["missing"] == []
    assert out["live"] == out["files"] and out["retired"] == 0

    # protected delete parks referenced files: still ok, retired > 0
    delete_where(spark, tbl, F.col("id") % 5 == 0, protect_releases=True)
    out = verify_release(tbl, "r1", check_rows=True)
    assert out["ok"] is True and out["retired"] > 0
    assert out["live"] + out["retired"] == out["files"]

    # truncate one parked file: the size check catches it
    root = pathlib.Path(tbl)
    parked = next((root / ".retired").rglob("*.parquet"))
    parked.write_bytes(parked.read_bytes()[:100])
    out = verify_release(tbl, "r1")
    assert out["ok"] is False and len(out["size_mismatches"]) == 1
    assert out["size_mismatches"][0]["found"] == 100

    # rows disagree while size matches (tampered manifest stands in
    # for a same-size content swap): only check_rows sees it
    tbl2 = str(tmp_path / "fsck_t2")
    spark.range(0, 50).selectExpr("id").coalesce(1).write.parquet(tbl2)
    snapshot_release(tbl2, "r1")
    mpath = tmp_path / ".fsck_t2.releases" / "release-r1.json"
    man = _json.loads(mpath.read_text())
    first = next(iter(man["partitions"].values()))["files"][0]
    first["rows"] += 1
    mpath.write_text(_json.dumps(man))
    assert verify_release(tbl2, "r1")["ok"] is True  # size still matches
    out = verify_release(tbl2, "r1", check_rows=True)
    assert out["ok"] is False and len(out["row_mismatches"]) == 1

    # on tbl the parked copies survive even a later UNPROTECTED delete
    # (retention roots carry across swaps — r17), so recorded files
    # only go MISSING when maintenance ran unprotected with nothing
    # parked: a fresh table, snapshot, then an unprotected rewrite
    tbl3 = str(tmp_path / "fsck_t3")
    spark.range(0, 100).selectExpr("id", "id % 2 AS day").repartition(
        1
    ).write.partitionBy("day").parquet(tbl3)
    snapshot_release(tbl3, "r1")
    delete_where(spark, tbl3, F.col("id") % 2 == 0)
    out = verify_release(tbl3, "r1")
    assert out["ok"] is False and out["missing"]
    assert main([
        "lake", "release-verify", "--path", tbl3, "--release-id", "r1",
    ]) == 1
    cli_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_out["action"] == "lake-release-verify"
    assert cli_out["ok"] is False
    assert main(["lake", "release-verify", "--path", tbl3]) == 2  # no id


def test_cli_lake_merge_and_audit_locality(spark, tmp_path, capsys):
    """Round 18: merge_upsert and the locality audit get the CLI faces
    an operator schedules — `lake merge --updates --keys
    [--partition-col --order-by]` and `lake audit-locality --keys
    --partition-col` (bounded JSON: violation count + sample)."""
    import json as _json

    from streampro_assignment_etl_spark.pipeline.cli import main

    tbl = str(tmp_path / "cli_merge_t")
    upd = str(tmp_path / "cli_merge_u")
    spark.createDataFrame(
        [(i, f"v{i}", i % 2) for i in range(20)],
        "id INT, val STRING, part INT",
    ).write.partitionBy("part").parquet(tbl)
    spark.createDataFrame(
        [(2, "NEW", 0), (2, "NEWER", 0), (99, "INS", 1)],
        "id INT, val STRING, part INT",
    ).write.parquet(upd)

    assert main([
        "lake", "merge", "--path", tbl, "--keys", "id",
    ]) == 2  # missing --updates

    # the updates carry conflicting rows for id=2, so the merge needs
    # --order-by to pick deterministically ("NEWER" > "NEW")
    with pytest.raises(ValueError, match="CONFLICTING"):
        main([
            "lake", "merge", "--path", tbl, "--updates", upd,
            "--keys", "id", "--partition-col", "part",
        ])
    capsys.readouterr()
    assert main([
        "lake", "merge", "--path", tbl, "--updates", upd,
        "--keys", "id", "--partition-col", "part", "--order-by", "val",
    ]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["action"] == "lake-merge"
    assert out["updated"] == 1 and out["inserted"] == 1
    got = spark.read.parquet(tbl)
    assert got.count() == 21
    assert got.filter("id = 99").count() == 1
    assert got.filter("id = 2").first()["val"] == "NEWER"

    # plant a locality violation (id=5 lives in part=1; re-insert it
    # stamped part=0) and read the audit's JSON
    viol = str(tmp_path / "cli_merge_v")
    spark.createDataFrame(
        [(5, "BAD", 0)], "id INT, val STRING, part INT"
    ).write.parquet(viol)
    assert main([
        "lake", "merge", "--path", tbl, "--updates", viol,
        "--keys", "id", "--partition-col", "part",
    ]) == 0
    capsys.readouterr()
    assert main([
        "lake", "audit-locality", "--path", tbl,
        "--keys", "id", "--partition-col", "part",
    ]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["violating_keys"] == 1
    assert out["sample"] == [{"id": 5, "n_partitions": 2}]
    assert main([
        "lake", "audit-locality", "--path", tbl, "--keys", "id",
    ]) == 2  # missing --partition-col


def test_read_release_bridge_resolves_live_then_retired(
    spark, tmp_path, moto_s3
):
    """Round 18 (symmetry with the bridge snapshot read): read_release
    over an injected filesystem mirrors the recorded rels driver-
    locally, resolving each live-then-.retired/ off ONE listing —
    retired twins land at their ORIGINAL rel in the mirror so Hive
    partition columns re-attach. A rel in neither place fails loudly
    BEFORE any download."""
    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.release import (
        read_release,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import delete_where

    local = tmp_path / "relseed"
    spark.range(0, 200).selectExpr("id", "id % 2 AS part").repartition(
        2
    ).write.partitionBy("part").parquet(str(local))

    bucket = "sparkgraft-relbridge"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/rel_t"
    for p in local.rglob("*.parquet"):
        rel = p.relative_to(local).as_posix()
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        with open(p, "rb") as f, fs.open_output_stream(f"{s3tbl}/{rel}") as o:
            o.write(f.read())

    snapshot_release(s3tbl, "r1", filesystem=fs)
    # Hive partition values stay strings repo-wide (session.py:62)
    want = [(i, str(i % 2)) for i in range(200)]
    got = sorted(
        tuple(r) for r in read_release(spark, s3tbl, "r1", filesystem=fs)
        .select("id", "part").collect()
    )
    assert got == want  # all-live resolution, partition col re-attached

    # a protected delete parks the touched originals under .retired/;
    # the bridge pin resolves them there and still reads exactly
    delete_where(
        spark, s3tbl, F.col("id") % 10 == 0, filesystem=fs,
        protect_releases=True,
    )
    got2 = sorted(
        tuple(r) for r in read_release(spark, s3tbl, "r1", filesystem=fs)
        .select("id", "part").collect()
    )
    assert got2 == want

    # the fsck agrees with the healthy read: everything resolves
    from streampro_assignment_etl_spark.pipeline.release import (
        verify_release,
    )

    v = verify_release(s3tbl, "r1", filesystem=fs, check_rows=True)
    assert v["ok"] is True and v["retired"] > 0

    # UNPROTECTED maintenance breaks the pin loudly, before download —
    # and the fsck names the damage proactively
    delete_where(spark, s3tbl, F.col("id") % 7 == 0, filesystem=fs)
    with pytest.raises(FileNotFoundError, match="neither live nor retired"):
        read_release(spark, s3tbl, "r1", filesystem=fs)
    v = verify_release(s3tbl, "r1", filesystem=fs)
    assert v["ok"] is False and v["missing"]


def test_audit_key_partition_locality_detects_violation(spark, tmp_path):
    """VERDICT r17 #3: merge_upsert's partition-locality contract
    (update rows carry their key's CURRENT partition) was documented
    but unverifiable after the fact — a wrong partition value silently
    duplicates the key table-wide. audit_key_partition_locality is the
    after-the-fact check: empty on a healthy table, exactly the
    violated keys (and nothing else) once a contract-violating update
    lands. The oracle-gated EXTRAS twin is merge_key_locality_audit."""
    from streampro_assignment_etl_spark.pipeline.writers import (
        audit_key_partition_locality,
        merge_upsert,
    )

    base = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(30)],
        "id INT, val STRING, part INT",
    )
    tbl = tmp_path / "loc_t"
    base.write.partitionBy("part").parquet(str(tbl))
    audit = lambda: sorted(  # noqa: E731
        (r["id"], r["n_partitions"])
        for r in audit_key_partition_locality(
            spark, str(tbl), ("id",), "part"
        ).collect()
    )
    assert audit() == []

    # honoring update (id=3 stays in its partition 0): still clean
    ok = spark.createDataFrame([(3, "OK", 0)], "id INT, val STRING, part INT")
    merge_upsert(spark, str(tbl), ok, keys=("id",), partition_col="part")
    assert audit() == []

    # violating update: id=4 lives in part=1 but arrives stamped
    # part=2 — merge inserts it there; the audit names exactly it
    bad = spark.createDataFrame([(4, "BAD", 2)], "id INT, val STRING, part INT")
    merge_upsert(spark, str(tbl), bad, keys=("id",), partition_col="part")
    assert audit() == [(4, 2)]

    # round 19 (VERDICT r18 wrong #2): the bridge route replaces the
    # old injected-filesystem refusal — an injected LocalFileSystem
    # audits through the cached mirror and agrees with the direct read
    import pyarrow.fs as pafs

    got_bridge = sorted(
        (r["id"], r["n_partitions"])
        for r in audit_key_partition_locality(
            spark, str(tbl), ("id",), "part",
            filesystem=pafs.LocalFileSystem(),
        ).collect()
    )
    assert got_bridge == [(4, 2)]


def test_read_trusted_schema_evolution(spark, tmp_path):
    """A later ingestion date adds a column; merge_schema surfaces it
    with NULL backfill for old dates, and date pruning reaches the scan."""
    from streampro_assignment_etl_spark.pipeline.writers import read_trusted

    root = tmp_path / "trusted" / "users"
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, name STRING")
    d1.withColumn("ingestion_date", F.lit("2025-09-09")).write.partitionBy(
        "ingestion_date"
    ).parquet(str(root))
    d2 = spark.createDataFrame(
        [(3, "c", "gold")], "id INT, name STRING, tier STRING"
    )
    d2.withColumn("ingestion_date", F.lit("2025-09-10")).write.mode(
        "append"
    ).partitionBy("ingestion_date").parquet(str(root))

    # Without merging, the visible schema depends on one footer; with
    # merging it is the union, old rows NULL-backfilled.
    merged = read_trusted(spark, str(root), merge_schema=True)
    assert "tier" in merged.columns
    assert merged.filter("tier IS NULL").count() == 2
    assert merged.filter("tier = 'gold'").count() == 1

    # Date pruning: only the requested partition's files are read.
    pruned = read_trusted(
        spark, str(root), merge_schema=True, ingestion_dates=("2025-09-10",)
    )
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "2025-09-09" not in plan


def test_merge_upsert_duplicate_update_keys(spark, tmp_path):
    """Duplicate keys in `updates` must neither double-write rows nor
    corrupt the updated/inserted accounting (ADVICE r2)."""
    from streampro_assignment_etl_spark.pipeline.writers import merge_upsert

    flat = tmp_path / "dup_tbl"
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).write.parquet(str(flat))
    updates = spark.createDataFrame(
        [(2, "b2"), (2, "b2"), (3, "c"), (3, "c")], ["id", "v"]
    )
    stats = merge_upsert(spark, str(flat), updates, keys=("id",))
    assert stats == {"target_rows_before": 2, "updated": 1, "inserted": 1}
    got = sorted(tuple(r) for r in spark.read.parquet(str(flat)).collect())
    assert [t[0] for t in got] == [1, 2, 3]  # exactly one row per key


def test_recover_staged_swap(spark, tmp_path):
    """A hard crash inside the swap's rename window leaves only the
    hidden backup; recover_staged_swap restores the table. Round 17
    closes the two LEAK windows the restore alone left open — each a
    full stale table copy: a post-promote crash's leftover backup
    beside a healthy root, and a pre-rename crash's orphaned staging
    write. Both sweep token-validated; foreign dot-dirs survive.
    Round 18 (ADVICE r17 #3): the sweep skips debris modified within
    the grace window, so a maintenance tick racing a concurrent
    writer's in-flight staging write cannot destroy it mid-write —
    only AGED debris is reclaimed."""
    import os
    import time

    from streampro_assignment_etl_spark.pipeline.writers import recover_staged_swap

    root = tmp_path / "swap_tbl"
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(str(root))
    # Simulate the crash: root renamed away, replacement never arrived.
    backup = tmp_path / f".{root.name}.old-deadbeef"
    root.rename(backup)
    assert recover_staged_swap(str(root)) is True
    assert [tuple(r) for r in spark.read.parquet(str(root)).collect()] == [(1, "a")]
    # Idempotent / no-op on a healthy table.
    assert recover_staged_swap(str(root)) is False

    # post-promote crash: stale backup beside a HEALTHY root — swept,
    # table untouched (pre-r17 this table copy leaked forever)
    stale = tmp_path / f".{root.name}.old-0badcafe"
    stale.mkdir()
    (stale / "part-x.parquet").write_bytes(b"stale")
    # pre-rename crash: finished staging write nothing will promote
    orphan = tmp_path / f".{root.name}.compact-deadbee1"
    orphan.mkdir()
    (orphan / "part-y.parquet").write_bytes(b"orphan")
    # a CONCURRENT writer's in-flight staging (fresh mtime): the
    # default grace window must leave it alone — rmtree'ing it would
    # fail that writer's swap (the ADVICE r17 #3 race)
    inflight = tmp_path / f".{root.name}.merge-00c0ffee"
    inflight.mkdir()
    (inflight / "part-z.parquet").write_bytes(b"inflight")
    # foreign dot-dirs: wrong token shape / unknown kind — never touched
    foreign1 = tmp_path / f".{root.name}.old-notahex!"
    foreign2 = tmp_path / f".{root.name}.mything-deadbeef"
    foreign1.mkdir(), foreign2.mkdir()
    # age the genuinely-dead debris past the window; inflight stays
    # new. The clock is the NEWEST entry under the dir (ADVICE r18 #1:
    # a deep write doesn't touch the dir's own mtime), so the deep
    # files must age too — an aged DIR with a fresh inner file is an
    # in-flight write and must survive (pinned below).
    aged = time.time() - 3600
    for d in (stale, orphan):
        for q in [d] + list(d.rglob("*")):
            os.utime(q, (aged, aged))
    os.utime(inflight, (aged, aged))  # dir old, inner file fresh
    assert recover_staged_swap(str(root)) is False  # nothing restored
    assert not stale.exists() and not orphan.exists()
    # aged dir + FRESH deep file = live writer; the old dir-mtime clock
    # would have swept it here
    assert inflight.exists()
    assert foreign1.exists() and foreign2.exists()
    assert [tuple(r) for r in spark.read.parquet(str(root)).collect()] == [(1, "a")]
    # once aged, the same dir IS debris and goes (grace_s=0 = eager)
    assert recover_staged_swap(str(root), grace_s=0) is False
    assert not inflight.exists()


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    """Folding two ingest deltas into the stored rollup must equal the
    one-shot aggregate over all rows (sum/count/min/max combine
    algebraically), and unknown functions fail loudly."""
    import pytest

    from streampro_assignment_etl_spark.pipeline.writers import incremental_rollup

    d1 = spark.createDataFrame(
        [("a", 10, 5.0), ("a", 20, 1.0), ("b", 5, 9.0)], ["k", "qty", "price"]
    )
    d2 = spark.createDataFrame(
        [("a", 1, 0.5), ("c", 7, 2.0)], ["k", "qty", "price"]
    )
    aggs = {
        "total_qty": ("sum", "qty"),
        "n_rows": ("count", "k"),
        "min_price": ("min", "price"),
        "max_price": ("max", "price"),
    }
    path = str(tmp_path / "rollup")
    incremental_rollup(spark, path, d1, ("k",), aggs)
    incremental_rollup(spark, path, d2, ("k",), aggs)

    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    full = sorted(
        tuple(r)
        for r in d1.unionByName(d2)
        .groupBy("k")
        .agg(
            F.sum("qty").alias("total_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
        .collect()
    )
    assert got == full

    with pytest.raises(ValueError, match="non-re-aggregable"):
        incremental_rollup(spark, path, d2, ("k",), {"a": ("avg", "price")})


def test_write_sorted_parquet_disjoint_file_ranges(spark, tmp_path):
    """The range-sorted layout must give files pairwise-disjoint
    [min, max] ranges on the sort column (read straight from parquet
    footers) — the property that lets footer-stats pruning skip
    everything but the covering file; an unsorted write of the same
    data has overlapping ranges."""
    import pyarrow.parquet as pq

    from streampro_assignment_etl_spark.pipeline.writers import write_sorted_parquet

    df = spark.range(0, 10000).select(
        (F.col("id") * 7919 % 10000).alias("k"), F.col("id").alias("v")
    )

    def file_ranges(path):
        out = []
        for p in sorted(path.rglob("*.parquet")):
            md = pq.ParquetFile(p).metadata
            ki = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "k"
            )
            mins = [md.row_group(g).column(ki).statistics.min for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(ki).statistics.max for g in range(md.num_row_groups)]
            out.append((min(mins), max(maxs)))
        return sorted(out)

    sorted_dir = tmp_path / "sorted"
    write_sorted_parquet(df, str(sorted_dir), ("k",), n_files=8)
    ranges = file_ranges(sorted_dir)
    assert len(ranges) >= 4
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, f"overlap: ({a_lo},{a_hi}) vs ({b_lo},{b_hi})"

    unsorted_dir = tmp_path / "unsorted"
    df.repartition(8).write.parquet(str(unsorted_dir))
    u = file_ranges(unsorted_dir)
    overlaps = sum(1 for (_, a_hi), (b_lo, _) in zip(u, u[1:]) if a_hi >= b_lo)
    assert overlaps > 0  # hash layout spans the whole range per file

    # Round-trip integrity.
    got = spark.read.parquet(str(sorted_dir))
    assert got.count() == 10000
    assert got.agg(F.countDistinct("k")).collect()[0][0] == 10000


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """Z-ordered files must cover small boxes in BOTH dimensions: the
    summed per-file (min,max) extent in each column is far below
    n_files x global_range (what a layout sorted on only one column
    degenerates to in the other column)."""
    import pyarrow.parquet as pq

    from streampro_assignment_etl_spark.pipeline.writers import (
        write_sorted_parquet,
        write_zordered_parquet,
    )

    n = 1 << 14
    side = 1 << 7  # x,y uniform on a 128x128 grid
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % side).alias("x"),
        ((F.col("id") * 40503) % side).alias("y"),
    )

    def extent_sum(path, col):
        total = 0
        for p in sorted(path.rglob("*.parquet")):
            md = pq.ParquetFile(p).metadata
            ci = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            mins = [md.row_group(g).column(ci).statistics.min for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(ci).statistics.max for g in range(md.num_row_groups)]
            total += max(maxs) - min(mins)
        return total

    zdir = tmp_path / "zorder"
    write_zordered_parquet(df, str(zdir), "x", "y", n_files=16, bits=8)
    xdir = tmp_path / "xsort"
    write_sorted_parquet(df, str(xdir), ("x",), n_files=16)

    # x-sorted: x extents tiny, y extents ~full range per materialized
    # file (no skipping; the range partitioner may emit <16 files).
    assert extent_sum(xdir, "y") >= 10 * (side - 1)
    # z-ordered: BOTH dimensions bounded — each file covers ~a quadrant
    # strip, so summed extent stays well under half the degenerate case.
    assert extent_sum(zdir, "x") <= 8 * side, extent_sum(zdir, "x")
    assert extent_sum(zdir, "y") <= 8 * side, extent_sum(zdir, "y")

    assert spark.read.parquet(str(zdir)).count() == n


def test_observed_quality_metrics_free_accounting(spark, tmp_path):
    """Observation metrics ride the one action that already runs (the
    write) — rows + per-column null counts with no second scan — and
    the gate flags columns over their null budget."""
    from streampro_assignment_etl_spark.pipeline.observability import (
        observed_quality,
        quality_gate,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], ["id", "v"]
    )
    observed, obs = observed_quality(df, null_cols=["v", "id"])
    observed.write.mode("overwrite").parquet(str(tmp_path / "obs_out"))

    m = obs.get
    assert m["rows"] == 4 and m["nulls_v"] == 2 and m["nulls_id"] == 0
    # The metrics describe the data the WRITE saw — no re-count ran.
    assert spark.read.parquet(str(tmp_path / "obs_out")).count() == 4

    assert quality_gate(m, 0.25, ["id", "v"]) == [
        "v: 2/4 null rows exceeds 25.0%"
    ]
    assert quality_gate(m, 0.5, ["id", "v"]) == []


def test_observed_quality_metrics_ride_the_trusted_write(spark, lake):
    """In-flight accounting (ADVICE r7): row + null counts collected by
    Observation on the trusted write itself — no second scan — land in
    metadata['observed'], and the armed null gate flags the events
    table's 50%-null value column without failing the run."""
    assert LandingToRawProcessor(lake, DATE).run().is_success
    result = RawToTrustedProcessor(spark, lake, DATE, max_null_fraction=0.4).run()
    assert result.is_success, result.error

    obs = result.metadata["observed"]
    assert obs["trusted_users"]["rows"] == 3
    assert obs["trusted_users"]["nulls_user_id"] == 0
    assert obs["trusted_events"]["rows"] == 2
    assert obs["trusted_events"]["nulls_value"] == 1  # one play event, no value

    viol = result.metadata["quality_violations"]
    assert list(viol) == ["trusted_events"]
    assert viol["trusted_events"][0].startswith("value:")

    # Unarmed gate: metrics still collected, nothing flagged.
    result2 = RawToTrustedProcessor(spark, lake, DATE).run()
    assert result2.metadata["observed"]["trusted_events"]["rows"] == 2
    assert result2.metadata["quality_violations"] == {}


def test_view_registration_propagates_unexpected_errors(spark, lake, monkeypatch):
    """The view-registration shield only swallows the benign shapes
    (empty dir, mixed-format footer); a genuine misconfiguration —
    here a reader blowing up with a permissions-style error — must
    fail the run instead of warning."""
    assert LandingToRawProcessor(lake, DATE).run().is_success
    proc = RawToTrustedProcessor(spark, lake, DATE)
    result = proc.run()
    assert result.is_success, result.error

    class _BoomReader:
        def __getattr__(self, name):
            def _raise(path):
                raise RuntimeError("Permission denied: /mnt/wrong-root")

            return _raise

    # Surgical: re-run ONLY the view-registration step with a reader
    # that blows up — the narrowed shield must re-raise, not warn.
    monkeypatch.setattr(
        type(proc.spark), "read", property(lambda self: _BoomReader()), raising=False
    )
    from streampro_assignment_etl_spark.pipeline.base import ProcessingResult

    with pytest.raises(RuntimeError, match="Permission denied"):
        proc._post_process(
            ProcessingResult(
                success=True,
                message="",
                metadata={},
                tables_created=["trusted_users"],
            )
        )


@pytest.mark.fast
def test_maintain_lake_table_heals_then_compacts_over_threshold(spark, tmp_path):
    """pipeline.writers.maintain_lake_table: the lake zone's composed
    cron body (sibling of maintain_index/maintain_store). Pins the
    recovery-before-measurement order: a table lost inside a staged
    swap is restored from its .old-* backup, a crashed delete manifest
    is replayed and orphan .del-* debris swept, and compaction runs
    ONLY when the healed table's visible file count exceeds the
    threshold — so the idle tick is cheap and idempotent (second call
    no-ops). An injected filesystem routes compaction through the
    object-store manifest swap instead of the pathlib directory swap
    (VERDICT r15 #2; the moto test pins the real wire protocol)."""
    import pathlib

    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        maintain_lake_table,
    )

    tbl = str(tmp_path / "mt")
    spark.range(2000).selectExpr("id", "id % 5 AS g").repartition(
        80
    ).write.parquet(tbl)
    root = pathlib.Path(tbl)

    # crash window 1: table sits under its staged-swap backup name
    root.rename(root.parent / ".mt.old-deadbeef")
    # crash window 2 (fabricated post-heal): orphan delete debris
    out = maintain_lake_table(spark, tbl, max_files=64)
    assert out["swap_recovered"] is True
    assert root.exists()
    assert out["files"] == 80 and out["compacted"] is True
    assert out["files_after"] <= 64
    assert spark.read.parquet(tbl).count() == 2000

    (root / ".del-0ddba11-7.parquet").write_bytes(b"orphan")
    # grace_s=0: the fabricated debris is fresh by mtime but stands in
    # for an aged crash; the tick's default 15-min window would
    # (correctly) protect it as possibly-in-flight staging
    out2 = maintain_lake_table(spark, tbl, max_files=64, grace_s=0)
    assert out2["swap_recovered"] is False
    assert out2["delete_recovered"] is True  # debris swept
    assert out2["compacted"] is False  # under threshold: cheap tick
    assert not (root / ".del-0ddba11-7.parquet").exists()

    out3 = maintain_lake_table(spark, tbl, max_files=64)
    assert out3 == {
        "swap_recovered": False,
        "delete_recovered": False,
        "compact_swap_recovered": False,
        "merge_swap_recovered": False,
        "compacted": False,
        "threshold": 64,
        "files": out2["files"],
        "empty_dirs_swept": 0,
    }  # fully idle tick — and exactly ONE recursive listing's worth

    # injected filesystem: heal through the seam AND compact through
    # the object-store manifest swap (r15 skipped this with a note)
    out4 = maintain_lake_table(
        spark, tbl, max_files=0, filesystem=pafs.LocalFileSystem()
    )
    assert out4["compacted"] is True and out4["compact_swap_recovered"] is False
    assert out4["files_after"] <= out4["files"]
    assert spark.read.parquet(tbl).count() == 2000

    # CLI face (the cron entry an operator actually schedules)
    from streampro_assignment_etl_spark.pipeline.cli import main

    assert main(["lake", "maintain", "--path", tbl, "--max-files", "64"]) == 0


@pytest.mark.fast
def test_release_manifest_snapshot_diff_and_erasure_proof(
    spark, tmp_path, moto_s3
):
    """pipeline/release.py (VERDICT r15 #6): versioned composition for
    the lake. Pins: a snapshot's totals match the table; releases are
    immutable (re-recording an id raises); a takedown between two
    releases diffs as exactly the touched partitions (rewritten when
    rows survive, removed when emptied, unchanged elsewhere — with
    correct before/after row counts); verify_takedown plugs in as the
    erasure proof between the releases; a torn manifest write (crash
    debris in the releases dir) is invisible to list/load and does not
    block later snapshots; and an S3-rooted copy of the same table
    snapshots to the SAME partition content and fingerprints through
    the FS seam (the fingerprint hashes relative paths + sizes + row
    counts, all store-independent)."""
    import boto3
    import pyarrow.fs as pafs
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.operators.takedown import (
        verify_takedown,
    )
    from streampro_assignment_etl_spark.pipeline.release import (
        diff_releases,
        list_releases,
        load_release,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import delete_where

    rows = [(i, i % 40, f"d{i % 4}") for i in range(400)]
    tbl = str(tmp_path / "rel" / "corpus")
    (
        spark.createDataFrame(rows, "id long, user_id long, day string")
        .repartition(3, "id")
        .write.partitionBy("day")
        .parquet(tbl)
    )
    man1 = snapshot_release(tbl, "r1")
    assert man1["total_rows"] == 400
    assert set(man1["partitions"]) == {f"day=d{i}" for i in range(4)}
    assert all(p["rows"] == 100 for p in man1["partitions"].values())
    with pytest.raises(ValueError, match="immutable"):
        snapshot_release(tbl, "r1")
    # a typo'd / missing table must NOT record a plausible empty
    # release (a later diff would certify a mass deletion that never
    # happened — the audit layer's worst failure mode)
    with pytest.raises(FileNotFoundError, match="no table"):
        snapshot_release(str(tmp_path / "rel" / "corpsu"), "r1")

    # a takedown between releases: subject 7 lives in day=d3 only
    # (7, 47, ... are all ≡ 3 mod 4); d3 survives with other users
    out = delete_where(spark, tbl, F.col("user_id") == 7)
    assert out["rows_deleted"] == 10
    # and empty one whole partition
    delete_where(spark, tbl, F.col("day") == "d0")
    man2 = snapshot_release(tbl, "r2")
    d = diff_releases(man1, man2)
    assert sorted(d["removed"]) == ["day=d0"]
    assert d["removed"]["day=d0"] == {"rows_before": 100, "rows_after": 0}
    assert sorted(d["rewritten"]) == ["day=d3"]
    assert d["rewritten"]["day=d3"] == {"rows_before": 100, "rows_after": 90}
    assert sorted(d["unchanged"]) == ["day=d1", "day=d2"]
    assert d["added"] == {}
    assert d["rows_before"] == 400 and d["rows_after"] == 290

    # the erasure proof BETWEEN the releases: read-only, same table
    ev = verify_takedown(spark, [7], tables=((tbl, "user_id"),))
    assert ev["clean"] is True and ev["physical_clean"] is True

    # torn manifest write: staging debris is invisible and harmless
    reldir = tmp_path / "rel" / ".corpus.releases"
    (reldir / ".tmp-release-r9").write_bytes(b'{"torn":')
    assert list_releases(tbl) == ["r1", "r2"]
    man3 = snapshot_release(tbl, "r3")
    assert load_release(tbl, "r3")["fingerprint"] == man3["fingerprint"]
    assert diff_releases(man2, man3)["rewritten"] == {}

    # S3-rooted twin: same files under the same rel paths → identical
    # partition content + fingerprints through the FS seam
    bucket = "sparkgraft-rel"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/corpus"
    import pathlib

    local_root = pathlib.Path(tbl)
    for p in local_root.rglob("*.parquet"):
        rel = p.relative_to(local_root).as_posix()
        if any(part.startswith((".", "_")) for part in rel.split("/")):
            continue
        with open(p, "rb") as f, fs.open_output_stream(
            f"{s3tbl}/{rel}"
        ) as o:
            o.write(f.read())
    s3man = snapshot_release(s3tbl, "r3", filesystem=fs)
    assert s3man["partitions"] == man3["partitions"]
    assert s3man["fingerprint"] == man3["fingerprint"]
    assert list_releases(s3tbl, filesystem=fs) == ["r3"]

    # CLI face (the release-review runbook): snapshot, list, diff —
    # pure metadata, no Spark session spun up
    from streampro_assignment_etl_spark.pipeline.cli import main

    assert main(["lake", "release-snapshot", "--path", tbl,
                 "--release-id", "r4", "--notes", "post-takedown"]) == 0
    assert main(["lake", "release-list", "--path", tbl]) == 0
    assert main(["lake", "release-diff", "--path", tbl,
                 "--from-release", "r1", "--to-release", "r4"]) == 0
    assert list_releases(tbl) == ["r1", "r2", "r3", "r4"]
    assert main(["lake", "release-snapshot", "--path", tbl]) == 2  # no id
    assert main(["lake", "release-diff", "--path", tbl]) == 2  # no ids
    d14 = diff_releases(load_release(tbl, "r1"), load_release(tbl, "r4"))
    assert sorted(d14["removed"]) == ["day=d0"]

    # distributed footer reads (spark=): identical partitions +
    # fingerprint to the driver-loop manifest of the same content
    man5 = snapshot_release(tbl, "r5", spark=spark)
    assert man5["partitions"] == man3["partitions"]
    assert man5["fingerprint"] == man3["fingerprint"]

    # read_release: the pinned read returns exactly the release's rows
    # (here: current content, since no maintenance ran since r3) with
    # partition columns attached; a fabricated stale manifest naming a
    # vanished file fails loudly, never silently returns a subset
    from streampro_assignment_etl_spark.pipeline.release import (
        read_release,
    )

    got = read_release(spark, tbl, "r3")
    assert got.count() == 290 and "day" in got.columns
    assert got.filter("user_id = 7").count() == 0
    import json as _json2

    rdir2 = tmp_path / "rel" / ".corpus.releases"
    stale = _json2.loads((rdir2 / "release-r3.json").read_text())
    first_part = next(iter(stale["partitions"].values()))
    first_part["files"][0]["path"] = "day=d1/part-vanished.parquet"
    (rdir2 / "release-r9.json").write_text(_json2.dumps(stale))
    with pytest.raises(Exception):
        read_release(spark, tbl, "r9").count()

    # a table mid-swap (unreplayed maintenance manifest) must refuse to
    # snapshot — the visible file set is transitional and the release
    # fingerprint would name a state no consistent table ever had
    man_pending = pathlib.Path(tbl) / ".delete-manifest-0badc0de.json"
    man_pending.write_text("[]")
    with pytest.raises(ValueError, match="mid-swap"):
        snapshot_release(tbl, "r10")
    man_pending.unlink()
    # same refusal for EVERY manifest namespace a writer can commit —
    # a committed-but-unreplayed partition-scoped merge_upsert left a
    # gap here until round 18 (ADVICE r17 #1: old files of unreplayed
    # partitions beside promoted finals = the exact inconsistent
    # fingerprint this guard exists to refuse)
    from streampro_assignment_etl_spark.pipeline.writers import (
        MRG_MANIFEST_PREFIX,
    )

    for pref in (MRG_MANIFEST_PREFIX, ".scd2-manifest-", ".cmp-manifest-"):
        mp = pathlib.Path(tbl) / f"{pref}0badc0de.json"
        mp.write_text("[]")
        with pytest.raises(ValueError, match="mid-swap"):
            snapshot_release(tbl, "r10")
        mp.unlink()


@pytest.mark.fast
def test_release_retention_roots_protect_pinned_reads(spark, tmp_path, moto_s3):
    """protect_releases (round 16): a recorded release becomes a
    RETENTION ROOT. Pins the full lifecycle: (1) a protected
    delete_where PARKS release-referenced originals under .retired/
    instead of deleting — current readers see the post-delete table,
    while read_release keeps returning the pinned snapshot bit-for-bit;
    (2) a protected compaction parks the rest, and the pinned read
    resolves entirely from the parked files; (3) verify_takedown
    reports the parked bytes as physical residue (clean=True,
    physical_clean=False, tables_retired counts) — erasure beats
    reproducibility, and the conflict is VISIBLE, never hidden;
    (4) expire_releases reclaims the parked files, after which the
    pinned read fails loudly and physical_clean goes True; (5) the
    retire decision is recorded in the crash manifest, so a replayed
    crash parks exactly as the original commit would; (6) the same
    protection works over the S3 wire protocol."""
    import boto3
    import json as _json
    import pathlib

    import pyarrow.fs as pafs
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.operators.takedown import (
        verify_takedown,
    )
    from streampro_assignment_etl_spark.pipeline.release import (
        RETIRED_DIR,
        expire_releases,
        read_release,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_parquet,
        delete_where,
        recover_delete_where,
    )

    rows = [(i, i % 10, f"d{i % 2}") for i in range(100)]
    tbl = str(tmp_path / "roots" / "corpus")
    (
        spark.createDataFrame(rows, "id long, user_id long, day string")
        .repartition(2, "id")
        .write.partitionBy("day")
        .parquet(tbl)
    )
    snapshot_release(tbl, "r1")
    want1 = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())

    # (1) protected row-level delete: current view loses the subject,
    # the pinned release still has them — from parked files
    out = delete_where(
        spark, tbl, F.col("user_id") == 7, protect_releases=True
    )
    assert out["rows_deleted"] == 10
    assert spark.read.parquet(tbl).filter("user_id = 7").count() == 0
    got1 = sorted(tuple(r) for r in read_release(spark, tbl, "r1").collect())
    assert got1 == want1
    retired_files = list(
        (pathlib.Path(tbl) / RETIRED_DIR).rglob("*.parquet")
    )
    assert retired_files  # parked, not deleted

    # (3) the GDPR tension is visible: servable clean, physically not
    ev = verify_takedown(spark, [7], tables=((tbl, "user_id"),))
    assert ev["clean"] is True and ev["physical_clean"] is False
    assert ev["tables"][tbl] == 0
    assert ev["tables_retired"][tbl] == 10

    # (2) protected compaction parks the remaining referenced files;
    # the pinned read now resolves wholly from .retired/
    compact_parquet(spark, tbl, protect_releases=True)
    got1b = sorted(tuple(r) for r in read_release(spark, tbl, "r1").collect())
    assert got1b == want1
    cur = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())
    assert cur == [t for t in want1 if t[1] != 7]

    # (2b) row-level release audit: removals resolve from the PARKED
    # copies (the live table no longer has them), additions from a
    # fresh append — and unchanged partitions are pruned before the
    # anti-joins (manifest diff first)
    from streampro_assignment_etl_spark.pipeline.release import (
        release_row_delta,
    )

    snapshot_release(tbl, "r1b")
    appended = [(900 + i, 77, "d9") for i in range(5)]
    # partitionBy: the table kept its day= layout (r19 layout-
    # preserving compaction), and a FLAT append onto a partitioned
    # table is the mixed layout every reader now refuses loudly
    spark.createDataFrame(
        appended, "id long, user_id long, day string"
    ).coalesce(1).write.mode("append").partitionBy("day").parquet(tbl)
    snapshot_release(tbl, "r1c")
    delta = release_row_delta(spark, tbl, "r1", "r1b", ["id", "user_id"])
    assert {(r["id"], r["user_id"], r["_change"]) for r in delta.collect()} == {
        (i, 7, "removed") for i in range(7, 100, 10)
    }
    delta2 = release_row_delta(spark, tbl, "r1b", "r1c", ["id"])
    assert {(r["id"], r["_change"]) for r in delta2.collect()} == {
        (900 + i, "added") for i in range(5)
    }
    # identical releases → typed empty delta
    assert release_row_delta(spark, tbl, "r1c", "r1c", ["id"]).count() == 0

    # (4) expire: parked bytes reclaimed, pinned read fails loudly,
    # physical erasure now complete — via the CLI face the ticket
    # workflow actually runs. Guardrails first (VERDICT r16 #3): the
    # one irreversible audit op refuses the zero-argument form, a
    # typo'd keep id refuses before any mutation, and dry-run reports
    # without mutating.
    from streampro_assignment_etl_spark.pipeline.cli import main as _cli
    from streampro_assignment_etl_spark.pipeline.release import (
        list_releases,
    )

    with pytest.raises(ValueError, match="expire_all"):
        expire_releases(tbl, keep=())
    with pytest.raises(ValueError, match="not recorded"):
        expire_releases(tbl, keep=("r1-typo",))
    assert _cli(["lake", "release-expire", "--path", tbl, "--keep", ""]) == 2
    rel_before = list_releases(tbl)
    dry = expire_releases(tbl, keep=(), expire_all=True, dry_run=True)
    assert dry["dry_run"] is True and dry["expired"] == rel_before
    assert dry["retired_files_removed"] > 0
    assert list_releases(tbl) == rel_before  # nothing mutated
    got_dry = sorted(tuple(r) for r in read_release(spark, tbl, "r1").collect())
    assert got_dry == want1
    assert (
        _cli(
            ["lake", "release-expire", "--path", tbl, "--expire-all",
             "--dry-run"]
        )
        == 0
    )
    assert list_releases(tbl) == rel_before

    assert _cli(["lake", "release-expire", "--path", tbl, "--expire-all"]) == 0
    gone = expire_releases(tbl, keep=(), expire_all=True)  # idempotent pass
    assert gone["expired"] == [] and gone["retired_files_removed"] == 0
    with pytest.raises(FileNotFoundError):
        read_release(spark, tbl, "r1")
    # the GC leaves no empty .retired/ skeleton behind
    assert not (pathlib.Path(tbl) / RETIRED_DIR).exists()
    ev2 = verify_takedown(spark, [7], tables=((tbl, "user_id"),))
    assert ev2["physical_clean"] is True
    cur2 = sorted(cur + appended)
    assert sorted(tuple(r) for r in spark.read.parquet(tbl).collect()) == cur2

    # (5) crash replay honors the recorded retire decision
    snapshot_release(tbl, "r2")
    live_rel = None
    root = pathlib.Path(tbl)
    for p in root.rglob("*.parquet"):
        rel = p.relative_to(root).as_posix()
        if not any(seg.startswith((".", "_")) for seg in rel.split("/")):
            live_rel = rel
            break
    (root / ".delete-manifest-0b5e55edbead.json").write_text(
        _json.dumps(
            [{"original": live_rel, "staged": None, "final": None,
              "retire": True}]
        )
    )
    assert recover_delete_where(tbl) is True
    assert not (root / live_rel).exists()
    assert (root / RETIRED_DIR / live_rel).exists()
    # park it back for the S3 leg baseline consistency checks below
    (root / RETIRED_DIR / live_rel).rename(root / live_rel)

    # (6) S3 leg: protected delete parks objects under .retired/, the
    # evidence scan counts them, expire reclaims them
    bucket = "sparkgraft-roots"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/corpus"
    for p in root.rglob("*.parquet"):
        rel = p.relative_to(root).as_posix()
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        with open(p, "rb") as f, fs.open_output_stream(f"{s3tbl}/{rel}") as o:
            o.write(f.read())
    snapshot_release(s3tbl, "s1", filesystem=fs)
    out3 = delete_where(
        spark, s3tbl, F.col("user_id") == 3,
        filesystem=fs, protect_releases=True,
    )
    assert out3["rows_deleted"] == 10
    parked = [
        o["Key"]
        for o in s3.list_objects_v2(
            Bucket=bucket, Prefix=f"lake/corpus/{RETIRED_DIR}/"
        ).get("Contents", [])
        if o["Key"].endswith(".parquet")
    ]
    assert parked
    ev3 = verify_takedown(
        spark, [3], tables=((s3tbl, "user_id"),), table_filesystem=fs
    )
    assert ev3["clean"] is True and ev3["physical_clean"] is False
    assert ev3["tables_retired"][s3tbl] == 10
    gone3 = expire_releases(s3tbl, keep=(), filesystem=fs, expire_all=True)
    assert gone3["retired_files_removed"] == len(parked)
    ev4 = verify_takedown(
        spark, [3], tables=((s3tbl, "user_id"),), table_filesystem=fs
    )
    assert ev4["physical_clean"] is True


def test_release_row_delta_prunes_only_when_sound(
    spark, tmp_path, monkeypatch, capsys
):
    """ADVICE r16 #1: pruning unchanged partitions before the anti-joins
    is only sound when key_cols pin each key to one first-level
    partition. A user deleted from day=d0 but alive in day=d1 must NOT
    read 'removed' when keyed on user_id alone — the delta falls back
    to the FULL pinned file sets (exact, unpruned); keying on
    (user_id, day) restores the pruned plan. Both plans are asserted
    via the file sets the shared resolver actually reads."""
    import streampro_assignment_etl_spark.pipeline.release as rel
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.pipeline.writers import delete_where

    # day alternates per DECADE so every user_id has rows in both days
    rows = [(i, i % 10, f"d{(i // 10) % 2}") for i in range(40)]
    tbl = str(tmp_path / "prune" / "t")
    (
        spark.createDataFrame(rows, "id long, user_id long, day string")
        .repartition(2)
        .write.partitionBy("day")
        .parquet(tbl)
    )
    rel.snapshot_release(tbl, "a")
    # subject 7 loses its day=d0 rows only; protected so release a's
    # originals stay resolvable
    delete_where(
        spark,
        tbl,
        (F.col("user_id") == 7) & (F.col("day") == "d0"),
        protect_releases=True,
    )
    rel.snapshot_release(tbl, "b")

    reads: list[list[str]] = []
    orig = rel._resolve_release_frame

    def spy(spark_, path_, rels, what):
        reads.append(list(rels))
        return orig(spark_, path_, rels, what)

    monkeypatch.setattr(rel, "_resolve_release_frame", spy)

    # unsound key (no partition column): unpruned, and the subject is
    # correctly NOT reported removed — it survives in day=d1
    delta = rel.release_row_delta(spark, tbl, "a", "b", ["user_id"])
    assert {(r["user_id"], r["_change"]) for r in delta.collect()} == set()
    assert any(
        r.startswith("day=d1/") for call in reads for r in call
    ), "unsound key must read the full pinned sets"

    # sound key (partition column included): pruned to day=d0 and the
    # per-partition removal is reported
    reads.clear()
    delta2 = rel.release_row_delta(spark, tbl, "a", "b", ["user_id", "day"])
    got = {(r["user_id"], r["day"], r["_change"]) for r in delta2.collect()}
    assert got == {(7, "d0", "removed")}
    assert reads and all(
        r.startswith("day=d0/") for call in reads for r in call
    ), f"sound key must read only the changed partition: {reads}"

    # CLI face: one JSON line with counts + sample keys
    import json as _json

    from streampro_assignment_etl_spark.pipeline.cli import main as _cli

    assert (
        _cli(
            ["lake", "release-row-delta", "--path", tbl,
             "--from-release", "a", "--to-release", "b",
             "--keys", "user_id,day"]
        )
        == 0
    )
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["removed"] == 1 and out["added"] == 0
    assert out["sample"]["removed"] == [{"user_id": 7, "day": "d0"}]
    # missing --keys refuses
    assert (
        _cli(
            ["lake", "release-row-delta", "--path", tbl,
             "--from-release", "a", "--to-release", "b"]
        )
        == 2
    )


def test_empty_release_read_roundtrip(spark, tmp_path):
    """ADVICE r16 #4: snapshot_release deliberately records an
    existing-but-empty table as a real state; read_release now
    round-trips it as a typed zero-row frame once the table has a
    schema source, and fails loudly (diff-only) while it has none."""
    import pathlib

    from streampro_assignment_etl_spark.pipeline.release import (
        read_release,
        snapshot_release,
    )

    tbl = tmp_path / "empty" / "t"
    pathlib.Path(tbl).mkdir(parents=True)
    man = snapshot_release(str(tbl), "r0")
    assert man["total_files"] == 0
    with pytest.raises(ValueError, match="diff-only"):
        read_release(spark, str(tbl), "r0")
    spark.createDataFrame([(1, "x")], "id long, v string").write.mode(
        "append"
    ).parquet(str(tbl))
    empty = read_release(spark, str(tbl), "r0")
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "v"}


def test_protect_releases_for_drop_partitions_and_merge(
    spark, tmp_path, moto_s3
):
    """VERDICT r16 #5: the retention-root contract now covers the two
    remaining destructive ops. Pins: (1) a protected
    drop_partitions_before PARKS release-referenced files before the
    partition dir drops and the pinned read survives the age-out;
    (2) a protected merge_upsert copies referenced files into the
    staging tree's .retired/ so the whole-table swap keeps the pin
    resolvable (previously-parked files carry too); (3) unprotected
    runs over release-referenced tables warn at cause time and the
    pinned read fails loudly at read time; (4) the drop-side parking
    works over the S3 wire protocol through the same fs seam."""
    import logging
    import pathlib

    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.release import (
        RETIRED_DIR,
        read_release,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import (
        drop_partitions_before,
        merge_upsert,
    )

    rows = [(i, f"d{i % 3}") for i in range(30)]
    tbl = str(tmp_path / "protect2" / "t")
    (
        spark.createDataFrame(rows, "id long, day string")
        .repartition(1)
        .write.partitionBy("day")
        .parquet(tbl)
    )
    snapshot_release(tbl, "r1")
    want = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())

    # (1) protected age-out: d0 drops from the live table, parks for r1
    out = drop_partitions_before(tbl, "day", "d1", protect_releases=True)
    assert out["dropped"] == ["d0"] and out["parked_files"] > 0
    assert spark.read.parquet(tbl).filter("day = 'd0'").count() == 0
    assert sorted(
        tuple(r) for r in read_release(spark, tbl, "r1").collect()
    ) == want

    # (2) protected merge: the whole-table swap replaces d1/d2's files;
    # r1 resolves wholly from parked copies (d0 carried across, d1/d2
    # newly parked by the merge)
    upd = spark.createDataFrame(
        [(1, "d1"), (600, "d2")], "id long, day string"
    )
    merge_upsert(
        spark, tbl, upd, keys=("id",), partition_col="day",
        protect_releases=True,
    )
    assert sorted(
        tuple(r) for r in read_release(spark, tbl, "r1").collect()
    ) == want
    assert spark.read.parquet(tbl).filter("id = 600").count() == 1

    # (3) unprotected runs warn at cause time, pins break loudly at read
    snapshot_release(tbl, "r2")
    records: list[str] = []
    h = logging.Handler()
    h.emit = lambda rec: records.append(rec.getMessage())
    wlog = logging.getLogger("streampro_assignment_etl_spark.pipeline.writers")
    wlog.addHandler(h)
    try:
        drop_partitions_before(tbl, "day", "d2")  # drops d1, unprotected
    finally:
        wlog.removeHandler(h)
    assert any(
        "drop_partitions_before" in m and "read_release" in m
        for m in records
    ), records
    with pytest.raises(FileNotFoundError):
        read_release(spark, tbl, "r2")

    # (4) S3 leg: the same protected drop through the fs seam
    bucket = "sparkgraft-protect2"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/t"
    root = pathlib.Path(tbl)
    for p in root.rglob("*.parquet"):
        rel = p.relative_to(root).as_posix()
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        with open(p, "rb") as f, fs.open_output_stream(f"{s3tbl}/{rel}") as o:
            o.write(f.read())
    snapshot_release(s3tbl, "s1", filesystem=fs)
    out3 = drop_partitions_before(
        s3tbl, "day", "d3", filesystem=fs, protect_releases=True
    )
    assert out3["dropped"] == ["d2"] and out3["parked_files"] > 0
    parked_keys = [
        o["Key"]
        for o in s3.list_objects_v2(
            Bucket=bucket, Prefix=f"lake/t/{RETIRED_DIR}/day=d2/"
        ).get("Contents", [])
        if o["Key"].endswith(".parquet")
    ]
    assert len(parked_keys) == out3["parked_files"]


def test_read_table_snapshot_isolated_from_swap_promote(spark, tmp_path):
    """VERDICT r16 #4 (the last isolation caveat): a listing-based
    reader racing a manifest swap's promote window sees old and new
    files together — doubled rows. read_table_snapshot pins ONE
    listing's visible set and reads exactly those files. Pins: (1) with
    promoted twins beside the originals (the mid-promote state), the
    naive read double-counts while the pinned reader returns the old
    rows exactly; (2) the division of labor with read_release: a swap
    that COMPLETES under the pin fails the pinned read loudly at scan
    time (isolation, not durability), while the recorded release
    re-resolves from the .retired/ parked twins and returns the old
    rows exactly; (3) injected filesystems raise like read_release."""
    import pathlib
    import shutil as _sh

    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.release import (
        read_table_snapshot,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_parquet,
    )

    tbl = str(tmp_path / "snapiso" / "t")
    spark.range(0, 1000).selectExpr("id", "id % 4 AS g").repartition(
        8
    ).write.parquet(tbl)
    snap = read_table_snapshot(spark, tbl)

    # (1) simulate the promote window: promoted-looking twins appear
    # while the originals are still listed (exactly what a reader's
    # LISTING sees between promote and delete-olds)
    root = pathlib.Path(tbl)
    vis = sorted(
        p
        for p in root.rglob("*.parquet")
        if not any(
            seg.startswith((".", "_")) for seg in p.relative_to(root).parts
        )
    )
    for i, p in enumerate(vis[:3]):
        _sh.copy(p, p.parent / f"part-cmp{'0' * 12}-{i}.parquet")
    assert spark.read.parquet(tbl).count() > 1000  # torn listing doubles
    assert snap.count() == 1000  # the pinned set is exact
    assert sorted(r["id"] for r in snap.collect()) == list(range(1000))

    # (2) a swap COMPLETES underneath the pin: the ad-hoc pin fails
    # loudly (never a silent partial re-list), the recorded release is
    # the durable pin — it re-resolves from the parked twins
    from py4j.protocol import Py4JJavaError

    from streampro_assignment_etl_spark.pipeline.release import (
        read_release,
    )

    for p in root.rglob("part-cmp*.parquet"):
        p.unlink()
    snapshot_release(tbl, "pin")  # retention root so the swap parks
    snap2 = read_table_snapshot(spark, tbl)
    compact_parquet(spark, tbl, protect_releases=True)
    with pytest.raises(Py4JJavaError):
        snap2.count()
    got = sorted(r["id"] for r in read_release(spark, tbl, "pin").collect())
    assert got == list(range(1000))
    assert spark.read.parquet(tbl).count() == 1000

    # (3) injected filesystem (round 18, VERDICT r17 missing (c)): the
    # bridge route mirrors the pinned visible set driver-locally — the
    # pin survives even a swap that COMPLETES underneath it (total
    # isolation; the loud-fail durability signal is connector-route
    # only, documented)
    snap3 = read_table_snapshot(spark, tbl, filesystem=pafs.LocalFileSystem())
    compact_parquet(spark, tbl)  # unprotected rewrite under the pin
    assert sorted(r["id"] for r in snap3.collect()) == list(range(1000))


def test_unprotected_local_compaction_preserves_retention_roots(
    spark, tmp_path
):
    """VERDICT r16 #2 / ADVICE r16 #2+#3: the local whole-directory swap
    used to REPLACE the table dir wholesale, silently destroying the
    .retired/ retention roots a previous protect_releases=True delete
    parked inside it — voiding protection the operator explicitly
    granted — and its rglob sizing counted parked/hidden files. Pins:
    (1) .retired/ survives an UNPROTECTED local compact_parquet
    byte-for-byte and the release pinned to parked files still reads
    bit-for-bit; (2) sizing counts visible files only; (3) destroying
    LIVE release-referenced files warns at cause time (erasure ops may
    legitimately run unprotected, so warning, not refusal) and the
    broken pin still fails loudly at read time; (4) merge_upsert's
    whole-table swap carries the park too."""
    import logging
    import pathlib

    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.pipeline.release import (
        RETIRED_DIR,
        read_release,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_parquet,
        delete_where,
        merge_upsert,
    )

    tbl = str(tmp_path / "carry" / "t")
    rows = [(i, i % 5) for i in range(50)]
    spark.createDataFrame(rows, "id long, user_id long").coalesce(
        1
    ).write.parquet(tbl)
    snapshot_release(tbl, "r1")  # references exactly the one live file
    want = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())

    # protected delete parks the referenced original under .retired/
    delete_where(spark, tbl, F.col("user_id") == 3, protect_releases=True)
    root = pathlib.Path(tbl)
    parked = sorted((root / RETIRED_DIR).rglob("*.parquet"))
    assert parked
    parked_bytes = parked[0].read_bytes()
    snapshot_release(tbl, "r2")  # references the LIVE survivor file

    records: list[str] = []
    h = logging.Handler()
    h.emit = lambda rec: records.append(rec.getMessage())
    wlog = logging.getLogger("streampro_assignment_etl_spark.pipeline.writers")
    wlog.addHandler(h)
    try:
        out = compact_parquet(spark, tbl)  # UNPROTECTED whole-dir swap
    finally:
        wlog.removeHandler(h)
    # (2) sizing saw only the visible survivor, never the parked file
    assert out["files_before"] == 1 and out["files_after"] == 1
    # (3) the cause-time warning named the op and the consequence
    assert any(
        "compact_parquet" in m and "read_release" in m for m in records
    ), records
    # (1) the park survived the swap byte-for-byte; the release pinned
    # to it still reads bit-for-bit
    parked_after = sorted((root / RETIRED_DIR).rglob("*.parquet"))
    assert [p.relative_to(root) for p in parked_after] == [
        p.relative_to(root) for p in parked
    ]
    assert parked_after[0].read_bytes() == parked_bytes
    got = sorted(tuple(r) for r in read_release(spark, tbl, "r1").collect())
    assert got == want
    # (3b) the release pinned to the destroyed LIVE file fails loudly
    with pytest.raises(FileNotFoundError):
        read_release(spark, tbl, "r2")

    # (4) merge_upsert's whole-table swap carries the park too
    upd = spark.createDataFrame([(0, 99), (500, 1)], "id long, user_id long")
    merge_upsert(spark, tbl, upd, keys=("id",))
    assert (root / RETIRED_DIR).exists()
    got2 = sorted(tuple(r) for r in read_release(spark, tbl, "r1").collect())
    assert got2 == want


def test_remote_compaction_against_moto_s3(spark, tmp_path, moto_s3):
    """VERDICT r15 #2: `maintain_lake_table` previously healed
    object-store tables and then left their streaming-append
    fragmentation standing forever (`compact_skipped`). Pins, over the
    real S3 wire protocol from a connector-less JVM: an 80-object S3
    table compacts to ≤ max_files with rows identical; objects OUTSIDE
    the table (a sibling table in the same bucket) are ETag-identical;
    the next tick no-ops; a fabricated crash window (staged compacted
    file + committed manifest, promote never ran) is replayed to
    convergence by the tick's entry recovery; pre-manifest `.cmp-*`
    debris is swept while a foreign dot-file without a 12-hex token
    survives."""
    import json as _json

    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        maintain_lake_table,
    )

    bucket = "sparkgraft-cmp"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )

    local = tmp_path / "cmp_local"
    spark.range(2000).selectExpr("id", "id % 5 AS g").repartition(
        80
    ).write.parquet(str(local))
    tbl = f"{bucket}/lake/frag"
    sib = f"{bucket}/lake/sibling"
    for p in local.rglob("*.parquet"):
        with open(p, "rb") as f, fs.open_output_stream(
            f"{tbl}/{p.name}"
        ) as o:
            o.write(f.read())
    sib_local = tmp_path / "cmp_sib"
    spark.range(10).coalesce(1).write.parquet(str(sib_local))
    for p in sib_local.rglob("*.parquet"):
        with open(p, "rb") as f, fs.open_output_stream(
            f"{sib}/{p.name}"
        ) as o:
            o.write(f.read())

    def etags(prefix):
        return {
            o["Key"]: o["ETag"]
            for o in s3.list_objects_v2(Bucket=bucket, Prefix=prefix).get(
                "Contents", []
            )
            if not o["Key"].endswith("/")
        }

    def rows():
        import pyarrow.dataset as pads

        t = pads.dataset(tbl, filesystem=fs, format="parquet").to_table()
        return sorted(zip(t["id"].to_pylist(), t["g"].to_pylist()))

    want = rows()
    sib_before = etags("lake/sibling/")
    out = maintain_lake_table(spark, tbl, max_files=16, filesystem=fs)
    assert out["compacted"] is True and out["files"] == 80
    assert out["files_after"] <= 16
    assert rows() == want
    assert etags("lake/sibling/") == sib_before  # untouched bytes

    out2 = maintain_lake_table(spark, tbl, max_files=16, filesystem=fs)
    assert out2["compacted"] is False  # idle tick
    assert out2["files"] == out["files_after"]

    # crash window: compaction staged its output and committed the
    # manifest, then died before the promote — plus an orphan staged
    # file from an older pre-manifest crash and a foreign dot-file
    live = sorted(etags("lake/frag/"))[0]
    live_rel = live[len("lake/frag/") :]
    with fs.open_input_stream(f"{bucket}/{live}") as src:
        body = src.read()
    with fs.open_output_stream(f"{tbl}/.cmp-feedfacefeed-0.parquet") as o:
        o.write(body)
    with fs.open_output_stream(f"{tbl}/.cmp-manifest-feedfacefeed.json") as o:
        o.write(
            _json.dumps(
                [
                    {
                        "old": [live_rel],
                        "staged": [".cmp-feedfacefeed-0.parquet"],
                        "final": ["part-cmp-feedfacefeed-0.parquet"],
                    }
                ]
            ).encode()
        )
    with fs.open_output_stream(f"{tbl}/.cmp-0a0a0a0a0a0a-9.parquet") as o:
        o.write(b"orphaned staging")
    with fs.open_output_stream(f"{tbl}/.cmp-foreign.parquet") as o:
        o.write(b"not ours")
    # grace_s=0: fresh fabricated debris stands in for an aged crash
    out3 = maintain_lake_table(
        spark, tbl, max_files=16, filesystem=fs, grace_s=0
    )
    assert out3["compact_swap_recovered"] is True
    keys = set(etags("lake/frag/"))
    assert f"lake/frag/part-cmp-feedfacefeed-0.parquet" in keys
    assert live not in keys
    assert "lake/frag/.cmp-manifest-feedfacefeed.json" not in keys
    assert "lake/frag/.cmp-0a0a0a0a0a0a-9.parquet" not in keys  # swept
    assert "lake/frag/.cmp-foreign.parquet" in keys  # never destroyed
    fs.delete_file(f"{tbl}/.cmp-foreign.parquet")
    assert rows() == want


def test_compact_fragmented_partitions_rewrites_only_hot_partitions(
    spark, tmp_path, moto_s3
):
    """compact_fragmented_partitions: the 100 TB maintenance shape — a
    streaming sink fragments the RECENT date partitions while the
    archive is compact, so the tick must rewrite exactly the
    fragmented partitions. Pins, locally and over moto-S3: only the
    over-threshold partition is rewritten (the others' files are
    byte/ETag-identical), rows are preserved, the next tick no-ops,
    and the composed `maintain_lake_table(partition_max_files=)` +
    CLI route drive the same sweep."""
    import glob
    import hashlib
    import json as _json
    import os

    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_fragmented_partitions,
        maintain_lake_table,
    )

    tbl = str(tmp_path / "hotcold")
    # cold partitions: 2 files each; hot partition d9: 24 files
    for d in ("d1", "d2"):
        spark.range(100).selectExpr(
            "id", f"'{d}' AS day"
        ).repartition(2).write.mode("append").partitionBy("day").parquet(tbl)
    spark.range(1000).selectExpr(
        "id + 1000 AS id", "'d9' AS day"
    ).repartition(24).write.mode("append").partitionBy("day").parquet(tbl)

    md5s = lambda d: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(tbl, f"day={d}", "*.parquet"))
    }
    cold_before = {d: md5s(d) for d in ("d1", "d2")}
    want = sorted(
        tuple(r) for r in spark.read.parquet(tbl).collect()
    )
    out = compact_fragmented_partitions(spark, tbl, max_files_per_partition=8)
    assert out["partitions_compacted"] == ["day=d9"]
    assert len(md5s("d9")) <= 8
    for d in ("d1", "d2"):
        assert md5s(d) == cold_before[d]  # untouched bytes
    assert sorted(tuple(r) for r in spark.read.parquet(tbl).collect()) == want
    again = compact_fragmented_partitions(spark, tbl, max_files_per_partition=8)
    assert again["partitions_compacted"] == []  # idle tick

    # multi-level Hive layout (round 19 — replaces the pre-r19 loud
    # refusal): compaction scopes on the LEAF partition dir, so one
    # hot hour folds while its sibling hour in the SAME date — and
    # every other date — stays untouched bytes
    nested = str(tmp_path / "nested")
    for h in (0, 1):
        spark.range(50).selectExpr(
            "id", "'d0' AS day", f"{h} AS hour"
        ).repartition(2 if h == 0 else 12).write.mode(
            "append"
        ).partitionBy("day", "hour").parquet(nested)
    spark.range(30).selectExpr(
        "id + 500 AS id", "'d1' AS day", "0 AS hour"
    ).repartition(2).write.mode("append").partitionBy(
        "day", "hour"
    ).parquet(nested)
    nmd5 = lambda sub: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(nested, sub, "*.parquet"))
    }
    cold_nested = {s_: nmd5(s_) for s_ in ("day=d0/hour=0", "day=d1/hour=0")}
    want_nested = sorted(
        tuple(r) for r in spark.read.parquet(nested).collect()
    )
    outn = compact_fragmented_partitions(
        spark, nested, max_files_per_partition=8
    )
    assert outn["partitions_compacted"] == ["day=d0/hour=1"]
    assert len(nmd5("day=d0/hour=1")) <= 8
    for s_ in ("day=d0/hour=0", "day=d1/hour=0"):
        assert nmd5(s_) == cold_nested[s_]  # untouched SIBLING leaves
    assert (
        sorted(tuple(r) for r in spark.read.parquet(nested).collect())
        == want_nested
    )

    # composed tick + CLI face
    out2 = maintain_lake_table(spark, tbl, partition_max_files=8)
    assert out2["compacted"] is False and out2["partitions_compacted"] == []
    from streampro_assignment_etl_spark.pipeline.cli import main

    assert main(["lake", "maintain", "--path", tbl,
                 "--partition-max-files", "8"]) == 0

    # the same sweep over the S3 wire protocol: hot partition folds,
    # cold partitions' objects ETag-identical
    bucket = "sparkgraft-hotcold"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/hotcold"
    import pathlib

    # re-fragment a fresh copy for the S3 leg (the local one is compact)
    tbl2 = str(tmp_path / "hotcold2")
    for d in ("d1", "d2"):
        spark.range(100).selectExpr(
            "id", f"'{d}' AS day"
        ).repartition(2).write.mode("append").partitionBy("day").parquet(tbl2)
    spark.range(1000).selectExpr(
        "id + 1000 AS id", "'d9' AS day"
    ).repartition(24).write.mode("append").partitionBy("day").parquet(tbl2)
    for p in pathlib.Path(tbl2).rglob("*.parquet"):
        rel = p.relative_to(tbl2).as_posix()
        with open(p, "rb") as f, fs.open_output_stream(f"{s3tbl}/{rel}") as o:
            o.write(f.read())
    etags = lambda: {  # noqa: E731
        o["Key"]: o["ETag"]
        for o in s3.list_objects_v2(Bucket=bucket, Prefix="lake/hotcold/").get(
            "Contents", []
        )
        if not o["Key"].endswith("/")
    }
    before = etags()
    out3 = compact_fragmented_partitions(
        spark, s3tbl, max_files_per_partition=8, filesystem=fs
    )
    assert out3["partitions_compacted"] == ["day=d9"]
    after = etags()
    for k, v in before.items():
        if "/day=d9/" not in k:
            assert after.get(k) == v, f"cold object {k} touched"
    import pyarrow.dataset as pads

    t = pads.dataset(
        s3tbl, filesystem=fs, format="parquet", partitioning="hive"
    ).to_table()
    assert t.num_rows == 1200
    assert sorted(t["id"].to_pylist()) == sorted(
        r[0] for r in want
    )


def test_drop_partitions_before_retention_sweep(spark, tmp_path, moto_s3):
    """Partition-level retention: aging out a date-partitioned table is
    a metadata operation — expired ingestion_date dirs dropped whole,
    survivors byte-identical, zero rewrite. Pins: string-order cutoff
    on ISO dates; the NULL partition is never dropped; mixed-width
    numeric shapes (where string order lies) are a loud error; dry_run
    only lists; idempotent re-run; and the SAME call ages out an
    S3-rooted table through the FS seam."""
    import glob
    import hashlib
    import os

    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        drop_partitions_before,
    )

    rows = [(i, f"2025-09-0{1 + i % 5}" if i % 7 else None) for i in range(200)]
    tbl = str(tmp_path / "ret")
    (
        spark.createDataFrame(rows, "id long, ingestion_date string")
        .repartition(2)
        .write.partitionBy("ingestion_date")
        .parquet(tbl)
    )
    md5s = lambda d: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(tbl, f"ingestion_date={d}", "*.parquet"))
    }
    keep_before = {d: md5s(d) for d in ("2025-09-03", "2025-09-04", "2025-09-05")}

    dry = drop_partitions_before(tbl, "ingestion_date", "2025-09-03", dry_run=True)
    assert dry["dropped"] == ["2025-09-01", "2025-09-02"]
    assert spark.read.parquet(tbl).count() == 200  # dry_run: nothing moved

    out = drop_partitions_before(tbl, "ingestion_date", "2025-09-03")
    assert out["dropped"] == ["2025-09-01", "2025-09-02"]
    assert "__HIVE_DEFAULT_PARTITION__" in out["kept"]  # NULLs: policy, not age
    got = spark.read.parquet(tbl)
    assert got.filter("ingestion_date < '2025-09-03'").count() == 0
    assert got.filter("ingestion_date IS NULL").count() > 0
    for d, before in keep_before.items():
        assert md5s(d) == before  # survivors: untouched bytes
    again = drop_partitions_before(tbl, "ingestion_date", "2025-09-03")
    assert again["dropped"] == []  # idempotent

    # mixed-width numeric partitions: string order would lie — refuse
    ntbl = str(tmp_path / "numeric")
    spark.createDataFrame(
        [(1, "9"), (2, "10")], "id long, day string"
    ).write.partitionBy("day").parquet(ntbl)
    with pytest.raises(ValueError, match="string order"):
        drop_partitions_before(ntbl, "day", "10")

    # unpadded DATE components (VERDICT r15 nit): "2025-1-9" vs cutoff
    # "2025-01-10" are both non-digit as whole strings — the old guard
    # passed them and string order silently mis-ranked ("2025-1-9" >
    # "2025-01-10"); the per-field shape check refuses
    utbl = str(tmp_path / "unpadded")
    spark.createDataFrame(
        [(1, "2025-1-9"), (2, "2025-01-08")], "id long, day string"
    ).write.partitionBy("day").parquet(utbl)
    with pytest.raises(ValueError, match="string order"):
        drop_partitions_before(utbl, "day", "2025-01-10")
    assert spark.read.parquet(utbl).count() == 2  # loud, nothing dropped

    # pure-string values keep plain lexicographic semantics regardless
    # of hyphen count — only numerically-ambiguous PAIRS are rejected
    # (the guard must not over-reject region-style partitions)
    rtbl = str(tmp_path / "regions")
    spark.createDataFrame(
        [(1, "ap-south"), (2, "eu-west"), (3, "us-east")],
        "id long, region string",
    ).write.partitionBy("region").parquet(rtbl)
    out_r = drop_partitions_before(rtbl, "region", "eu-zzz")
    assert out_r["dropped"] == ["ap-south", "eu-west"]
    assert out_r["kept"] == ["us-east"]

    # object-store face: same call through the FS seam
    bucket = "sparkgraft-ret"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    import pathlib

    for p in pathlib.Path(tbl).rglob("*.parquet"):
        rel = p.relative_to(tbl).as_posix()
        with open(p, "rb") as f, s3fs.open_output_stream(
            f"{bucket}/lake/ret/{rel}"
        ) as o:
            o.write(f.read())
    # CLI face on the local table first
    from streampro_assignment_etl_spark.pipeline.cli import main

    assert main([
        "lake", "drop-partitions", "--path", tbl,
        "--partition-column", "ingestion_date",
        "--cutoff", "2025-09-04",
    ]) == 0
    assert (
        spark.read.parquet(tbl).filter("ingestion_date = '2025-09-03'").count()
        == 0
    )
    assert main(["lake", "drop-partitions", "--path", tbl]) == 2  # args required

    out_s3 = drop_partitions_before(
        f"{bucket}/lake/ret", "ingestion_date", "2025-09-05", filesystem=s3fs
    )
    assert out_s3["dropped"] == ["2025-09-03", "2025-09-04"]
    keys = [
        o["Key"]
        for o in boto3.client("s3", endpoint_url=moto_s3).list_objects_v2(
            Bucket=bucket, Prefix="lake/ret"
        )["Contents"]
        if not o["Key"].endswith("/")
    ]
    assert all("2025-09-03" not in k and "2025-09-04" not in k for k in keys)
    assert any("2025-09-05" in k for k in keys)


def test_delete_where_against_moto_s3(spark, tmp_path, moto_s3):
    """VERDICT r14 #1: the lake surface of the takedown cascade reaches
    OBJECT STORES — delete_where's listing/staging/manifest/rename
    dance runs through the pyarrow FS seam against a real HTTP S3 wire
    protocol (moto), with Spark I/O bridged through the connector-less
    local mirror (the same configuration the CLI moto test pins for
    the pipeline). Pins: rows deleted with Hive partitions preserved;
    NON-hit objects' ETags byte-unchanged; a fabricated post-manifest
    crash replays to convergence remotely; orphan pre-manifest staging
    debris is swept at recovery."""
    import hashlib
    import io
    import json as _json
    import os

    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        delete_where,
        recover_delete_where,
    )

    bucket = "sparkgraft-del"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3fs = pafs.S3FileSystem(
        endpoint_override=moto_s3,
        access_key="testing",
        secret_key="testing",
        region="us-east-1",
    )
    s3 = boto3.client("s3", endpoint_url=moto_s3)

    # build the table locally, then upload it file-for-file
    rows = [(i, f"d{i % 3}", float(i) if i % 10 else None) for i in range(300)]
    local = tmp_path / "tbl"
    (
        spark.createDataFrame(rows, "id long, day string, score double")
        .repartition(4, "id")
        .write.partitionBy("day")
        .parquet(str(local))
    )
    table = f"{bucket}/lake/tbl"
    for p in local.rglob("*.parquet"):
        rel = p.relative_to(local).as_posix()
        with open(p, "rb") as f, s3fs.open_output_stream(f"{table}/{rel}") as o:
            o.write(f.read())
    etags = lambda: {  # noqa: E731
        o["Key"]: o["ETag"]
        for o in s3.list_objects_v2(Bucket=bucket, Prefix="lake/tbl")[
            "Contents"
        ]
        if not o["Key"].endswith("/")  # pyarrow's S3 dir-marker objects
    }
    before = etags()
    assert len(before) == 12  # 3 partitions x 4 files

    out = delete_where(spark, table, "id IN (7, 13, 250)", filesystem=s3fs)
    assert out["rows_deleted"] == 3 and 1 <= out["files_rewritten"] <= 3
    assert out["files_total"] == 12
    after = etags()
    untouched = {k for k in before if k in after}
    assert all(before[k] == after[k] for k in untouched)  # ETag-identical
    assert len(before) - out["files_rewritten"] == len(untouched)

    # read back through the seam: ids gone, partitions preserved
    mirror = tmp_path / "mirror"
    for o in s3.list_objects_v2(Bucket=bucket, Prefix="lake/tbl")["Contents"]:
        if o["Key"].endswith("/"):
            continue
        rel = o["Key"][len("lake/tbl/") :]
        dst = mirror / rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        with s3fs.open_input_stream(f"{bucket}/{o['Key']}") as src:
            dst.write_bytes(src.read())
    got = spark.read.parquet(str(mirror))
    assert {r["id"] for r in got.select("id").collect()} == (
        set(range(300)) - {7, 13, 250}
    )
    assert got.filter("day IS NULL").count() == 0

    # crash replay, fully remote: survivor staged under the dot name +
    # manifest present + original still live -> recovery promotes the
    # survivor, deletes the original, removes the manifest
    victim_key = sorted(k for k in after if k.startswith("lake/tbl/day=d0"))[0]
    victim_rel = victim_key[len("lake/tbl/") :]
    vlocal = tmp_path / "victim.parquet"
    with s3fs.open_input_stream(f"{bucket}/{victim_key}") as src:
        vlocal.write_bytes(src.read())
    sub = spark.read.parquet(str(vlocal))
    drop_one = min(r["id"] for r in sub.select("id").collect())
    stage = tmp_path / "stage"
    sub.filter(f"id != {drop_one}").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stage))
    dot_rel = "day=d0/.del-feedbeef-0.parquet"
    final_rel = "day=d0/part-delfeedbeef-0.parquet"
    with open(next(stage.glob("part-*.parquet")), "rb") as f, s3fs.open_output_stream(
        f"{table}/{dot_rel}"
    ) as o:
        o.write(f.read())
    with s3fs.open_output_stream(
        f"{table}/.delete-manifest-feedbeef.json"
    ) as o:
        o.write(
            _json.dumps(
                [{"original": victim_rel, "staged": dot_rel, "final": final_rel}]
            ).encode()
        )
    # plus orphan pre-manifest debris from an older "crash"
    with s3fs.open_output_stream(f"{table}/day=d1/.del-0a0a0a0a-9.parquet") as o:
        o.write(b"orphaned")
    assert recover_delete_where(table, filesystem=s3fs) is True
    keys = set(etags())
    assert f"lake/tbl/{final_rel}" in keys
    assert victim_key not in keys
    assert "lake/tbl/.delete-manifest-feedbeef.json" not in keys
    assert "lake/tbl/day=d1/.del-0a0a0a0a-9.parquet" not in keys  # swept
    mirror2 = tmp_path / "mirror2"
    for o in s3.list_objects_v2(Bucket=bucket, Prefix="lake/tbl")["Contents"]:
        if o["Key"].endswith("/"):
            continue
        rel = o["Key"][len("lake/tbl/") :]
        if any(part.startswith(".") for part in rel.split("/")):
            continue
        dst = mirror2 / rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        with s3fs.open_input_stream(f"{bucket}/{o['Key']}") as src:
            dst.write_bytes(src.read())
    ids2 = {r["id"] for r in spark.read.parquet(str(mirror2)).select("id").collect()}
    assert ids2 == set(range(300)) - {7, 13, 250, drop_one}

    # cascade end-to-end over the S3-rooted table: the lake surface of
    # a takedown request reaches the object store through the same seam
    from streampro_assignment_etl_spark.operators.takedown import (
        cascade_takedown,
    )

    out3 = cascade_takedown(
        spark, [100, 200], tables=((table, "id"),), table_filesystem=s3fs
    )
    assert out3["tables"][table]["rows_deleted"] == 2
    mirror3 = tmp_path / "mirror3"
    for o in s3.list_objects_v2(Bucket=bucket, Prefix="lake/tbl")["Contents"]:
        if o["Key"].endswith("/"):
            continue
        rel = o["Key"][len("lake/tbl/") :]
        if any(part.startswith(".") for part in rel.split("/")):
            continue
        dst = mirror3 / rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        with s3fs.open_input_stream(f"{bucket}/{o['Key']}") as src:
            dst.write_bytes(src.read())
    ids3 = {r["id"] for r in spark.read.parquet(str(mirror3)).select("id").collect()}
    assert ids3 == set(range(300)) - {7, 13, 250, drop_one, 100, 200}

    # erasure evidence over the S3-rooted table, no Spark connector:
    # the pyarrow-dataset membership count through the same seam
    from streampro_assignment_etl_spark.operators.takedown import (
        verify_takedown,
    )

    ev = verify_takedown(
        spark, [100, 200, 7], tables=((table, "id"),), table_filesystem=s3fs
    )
    assert ev["tables"][table] == 0
    assert ev["clean"] is True and ev["physical_clean"] is True
    dirty = verify_takedown(
        spark, [150], tables=((table, "id"),), table_filesystem=s3fs
    )
    assert dirty["tables"][table] == 1 and dirty["clean"] is False


@pytest.mark.fast
def test_delete_where_rewrites_only_hit_files(spark, tmp_path):
    """Corpus-level takedown (round 14): delete_where removes predicate
    rows by rewriting ONLY the files containing them. Pins: non-hit
    files byte-identical; survivors stay in their Hive partition dir;
    partition-column predicates work; NULL predicate keeps the row
    (SQL DELETE semantics); a crash mid-swap is replayed by the
    manifest recovery; a no-hit predicate is a clean no-op."""
    import glob
    import hashlib
    import json
    import os
    import pathlib

    from streampro_assignment_etl_spark.pipeline.writers import (
        delete_where,
        recover_delete_where,
    )

    rows = [
        (i, f"d{i % 3}", float(i) if i % 10 else None) for i in range(300)
    ]
    tbl = str(tmp_path / "tbl")
    (
        spark.createDataFrame(rows, "id long, day string, score double")
        .repartition(4, "id")
        .write.partitionBy("day")
        .parquet(tbl)
    )
    md5s = lambda: {  # noqa: E731
        f: hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(tbl, "day=*", "*.parquet"))
    }
    before = md5s()

    out = delete_where(spark, tbl, "id IN (7, 13, 250)")
    assert out["rows_deleted"] == 3 and 1 <= out["files_rewritten"] <= 3
    after = md5s()
    untouched = {f for f in before if f in after}
    assert all(before[f] == after[f] for f in untouched)
    assert len(before) - out["files_rewritten"] == len(untouched)
    got = spark.read.parquet(tbl)
    ids = {r["id"] for r in got.select("id").collect()}
    assert ids == set(range(300)) - {7, 13, 250}
    assert got.filter("day IS NULL").count() == 0  # partitions preserved

    # NULL predicate keeps the row: score IS NULL rows survive
    # "score > 1e9" (NULL > x is NULL, not TRUE)
    n_null = got.filter("score IS NULL").count()
    out2 = delete_where(spark, tbl, "score > 1e9")
    assert out2 == {"rows_deleted": 0, "files_rewritten": 0, "files_total": len(after)}
    assert spark.read.parquet(tbl).filter("score IS NULL").count() == n_null

    # partition-column predicate
    out3 = delete_where(spark, tbl, "day = 'd1' AND id < 20")
    # 7 and 13 are d1 ids under 20 but step 1 already removed them
    gone = {i for i in range(300) if i % 3 == 1 and i < 20} - {7, 13}
    assert out3["rows_deleted"] == len(gone)
    assert {r["id"] for r in spark.read.parquet(tbl).select("id").collect()} == (
        set(range(300)) - {7, 13, 250} - gone
    )

    # crash replay: fabricate the post-manifest pre-swap state for one
    # real file — survivor staged under the dot name, manifest present,
    # original still in place — recovery must promote + delete
    victim = pathlib.Path(glob.glob(os.path.join(tbl, "day=d0", "*.parquet"))[0])
    sub = spark.read.parquet(str(victim))
    keep_ids = {r["id"] for r in sub.select("id").collect()}
    drop_one = sorted(keep_ids)[0]
    stage = tmp_path / "stage"
    sub.filter(f"id != {drop_one}").coalesce(1).write.mode("overwrite").parquet(str(stage))
    dot = victim.parent / ".del-feedbeef-0.parquet"
    final = victim.parent / "part-delfeedbeef-0.parquet"
    next(stage.glob("part-*.parquet")).rename(dot)
    man = pathlib.Path(tbl) / ".delete-manifest-feedbeef.json"
    man.write_text(json.dumps([
        {"original": str(victim), "staged": str(dot), "final": str(final)}
    ]))
    assert recover_delete_where(tbl) is True
    assert final.exists() and not victim.exists() and not man.exists()
    assert drop_one not in {
        r["id"] for r in spark.read.parquet(tbl).select("id").collect()
    }

    # PRE-manifest crash debris (survivor staged, manifest never
    # written): nothing references it — recovery sweeps it, and a
    # re-run of the delete converges with zero hidden files left
    # (before r15 this debris accumulated forever and files_total
    # counted it)
    orphan = pathlib.Path(tbl) / "day=d2" / ".del-0ddba11-0.parquet"
    orphan.write_bytes(b"orphaned survivor")
    stage_dir = pathlib.Path(tbl) / ".del-stage-0ddba11-0"
    stage_dir.mkdir()
    (stage_dir / "part-x.parquet").write_bytes(b"half-written")
    n_before = spark.read.parquet(tbl).count()
    out4 = delete_where(spark, tbl, "id = 299")
    assert out4["rows_deleted"] == 1
    assert not orphan.exists() and not stage_dir.exists()
    hidden = [
        p
        for p in pathlib.Path(tbl).rglob("*")
        # .del-*/.tmp-delete-* is delete_where's namespace; Hadoop's
        # own .crc shadows are not ours to sweep
        if any(
            part.startswith((".del-", ".tmp-delete-", ".delete-manifest-"))
            for part in p.relative_to(tbl).parts
        )
    ]
    assert hidden == []
    assert spark.read.parquet(tbl).count() == n_before - 1
    # files_total counts only reader-visible parquet, never dot debris
    assert out4["files_total"] == sum(
        1
        for p in pathlib.Path(tbl).rglob("*.parquet")
        if not any(part.startswith(".") for part in p.relative_to(tbl).parts)
    )


def test_delete_where_forgets_key_in_bucketed_scd2_dimension(spark, tmp_path):
    """Cross-feature GDPR pin: delete_where over the BUCKETED SCD-2
    dimension forgets one user's whole history by rewriting only that
    user's hash bucket — partition columns (bucket) survive the
    rewrite and every other bucket's files are byte-identical. The
    composed form a 'forget user X' request takes against the round-14
    dimension layout."""
    import glob
    import hashlib
    import os

    from streampro_assignment_etl_spark.pipeline.writers import delete_where
    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_scd2_upsert_stream_bucketed,
    )

    rows = [
        (u, f"s{c}", 1_000 * (c + 1), u * 100 + c)
        for u in range(40)
        for c in range(3)
    ]
    chg = str(tmp_path / "chg")
    spark.createDataFrame(
        rows, "user_id long, status string, ts_us long, change_id long"
    ).coalesce(1).write.parquet(chg)
    dim = str(tmp_path / "dim")
    run_scd2_upsert_stream_bucketed(
        spark.readStream.schema(
            "user_id long, status string, ts_us long, change_id long"
        ).parquet(chg),
        dim,
        str(tmp_path / "ck"),
        n_buckets=8,
    )
    victim = 7
    vb = spark.sql(f"SELECT pmod(hash({victim}L), 8) AS b").first()["b"]
    md5s = lambda b: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(dim, f"bucket={b}", "*.parquet"))
    }
    before = {b: md5s(b) for b in range(8)}
    out = delete_where(spark, dim, f"user_id = {victim}")
    assert out["rows_deleted"] == 3 and out["files_rewritten"] == 1
    after = {b: md5s(b) for b in range(8)}
    for b in range(8):
        if b == int(vb):
            assert after[b] != before[b]
        else:
            assert after[b] == before[b], b
    got = spark.read.parquet(dim)
    assert got.filter(f"user_id = {victim}").count() == 0
    assert got.count() == 39 * 3
    assert got.filter("bucket IS NULL").count() == 0  # layout preserved


def test_cli_scd2_lifecycle(spark, tmp_path, capsys):
    """scd2 CLI runbook: init the dimension from the pre-cutoff change
    log, apply the post-cutoff batch, and the table must equal the bulk
    SCD-2 over all events; stats reports rows/keys/open rows; apply on
    a missing target and init on an existing one fail loudly."""
    import json

    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.pipeline.cli import main
    from streampro_assignment_etl_spark.queries import EXTRAS
    from streampro_assignment_etl_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.col("event_type").alias("status"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").alias("change_id"),
    )
    cut = 1_705_795_200_000_000
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    ev.filter(F.col("ts_us") < cut).write.parquet(old_p)
    ev.filter(F.col("ts_us") >= cut).write.parquet(new_p)
    target = str(tmp_path / "dim")

    assert main(["scd2", "apply", "--target", target, "--changes", new_p]) == 2
    assert main(["scd2", "init", "--target", target, "--changes", old_p]) == 0
    assert main(["scd2", "init", "--target", target, "--changes", old_p]) == 2
    assert main(["scd2", "apply", "--target", target, "--changes", new_p]) == 0
    assert main(["scd2", "stats", "--target", target]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["open_rows"] == stats["keys"]

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(target)
        .select("user_id", "status", "valid_from_us", "valid_to_us", "is_current")
        .collect()
    )
    bulk = sorted(
        tuple(r)
        for r in EXTRAS["scd2_user_type_history"].builder(spark, sf).collect()
    )
    assert got == bulk


def test_cli_scd2_preserves_user_column_names(spark, tmp_path, capsys):
    """A dimension keyed on a non-canonical column keeps ITS names in
    the stored table (ADVICE r13: --key-col/--status-col were silently
    renamed to user_id/status on disk): init + apply + stats all
    round-trip through the user's schema."""
    import json

    from streampro_assignment_etl_spark.pipeline.cli import main

    rows = [
        ("dev1", "active", 1_000, 1),
        ("dev1", "idle", 2_000, 2),
        ("dev2", "active", 1_500, 3),
    ]
    log = spark.createDataFrame(
        rows, ["device_id", "state", "changed_at_us", "seq"]
    )
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    log.filter("seq < 3").write.parquet(old_p)
    log.filter("seq >= 3").write.parquet(new_p)
    target = str(tmp_path / "dim")
    cols = [
        "--key-col", "device_id", "--status-col", "state",
        "--ts-col", "changed_at_us", "--id-col", "seq",
    ]
    assert main(["scd2", "init", "--target", target, "--changes", old_p] + cols) == 0
    assert main(["scd2", "apply", "--target", target, "--changes", new_p] + cols) == 0
    dim = spark.read.parquet(target)
    assert set(dim.columns) == {
        "device_id", "state", "valid_from_us", "valid_to_us", "is_current"
    }
    got = {
        (r.device_id, r.state, r.valid_from_us, r.valid_to_us, r.is_current)
        for r in dim.collect()
    }
    assert got == {
        ("dev1", "active", 1_000, 2_000, False),
        ("dev1", "idle", 2_000, None, True),
        ("dev2", "active", 1_500, None, True),
    }
    assert main(["scd2", "stats", "--target", target] + cols) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["keys"] == 2 and stats["open_rows"] == 2


def test_bridge_mirror_cache_reuses_and_evicts(spark, tmp_path):
    """ADVICE r18 #2: the injected-filesystem bridge reads
    (read_table_snapshot / read_release) used to mkdtemp a fresh
    O(table-bytes) mirror per call and free it only at interpreter
    exit — unbounded disk for a long-lived driver. Now identical file
    sets (fingerprinted by (rel, bytes) off the listing — sound
    because no writer mutates a file in place) reuse ONE cached
    mirror, distinct sets LRU-evict beyond the cap, and
    clear_release_mirrors() is the explicit cleanup."""
    import pathlib

    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline import release as rel_mod
    from streampro_assignment_etl_spark.pipeline.release import (
        clear_release_mirrors,
        read_table_snapshot,
        read_release,
        snapshot_release,
    )

    fs = pafs.LocalFileSystem()
    tbl = tmp_path / "mcache" / "t"
    spark.range(0, 50).selectExpr("id", "id % 2 AS part").coalesce(
        1
    ).write.partitionBy("part").parquet(str(tbl))

    clear_release_mirrors()
    assert rel_mod._MIRROR_CACHE == {}
    df1 = read_table_snapshot(spark, str(tbl), filesystem=fs)
    assert df1.count() == 50
    assert len(rel_mod._MIRROR_CACHE) == 1
    m1 = next(iter(rel_mod._MIRROR_CACHE.values()))
    # identical file set → same mirror, no second download
    read_table_snapshot(spark, str(tbl), filesystem=fs).count()
    assert list(rel_mod._MIRROR_CACHE.values()) == [m1]
    # read_release over the SAME all-live file set shares the mirror
    # (the key is the file set, not the caller)
    snapshot_release(str(tbl), "r1", filesystem=fs)
    assert read_release(spark, str(tbl), "r1", filesystem=fs).count() == 50
    assert list(rel_mod._MIRROR_CACHE.values()) == [m1]

    # each append changes the visible set → a new mirror; beyond the
    # cap the least-recently-used mirror is evicted AND removed from
    # disk
    for i in range(rel_mod._MIRROR_CACHE_MAX + 1):
        spark.range(100 + i, 101 + i).selectExpr(
            "id", "id % 2 AS part"
        ).coalesce(1).write.mode("append").partitionBy("part").parquet(
            str(tbl)
        )
        read_table_snapshot(spark, str(tbl), filesystem=fs).count()
    assert len(rel_mod._MIRROR_CACHE) == rel_mod._MIRROR_CACHE_MAX
    assert m1 not in rel_mod._MIRROR_CACHE.values()
    assert not pathlib.Path(m1).exists()  # evicted mirrors free disk
    # the survivors serve the CURRENT data (never a stale reuse)
    assert (
        read_table_snapshot(spark, str(tbl), filesystem=fs).count()
        == 50 + rel_mod._MIRROR_CACHE_MAX + 1
    )
    live = list(rel_mod._MIRROR_CACHE.values())
    clear_release_mirrors()
    assert rel_mod._MIRROR_CACHE == {}
    assert not any(pathlib.Path(m).exists() for m in live)


def test_tick_grace_protects_fresh_staging_all_namespaces(tmp_path):
    """ADVICE r18 #1: round 18 added the 15-min sweep grace only to
    recover_staged_swap, keyed on the dir's OWN mtime — which only
    moves on direct-child changes, so a deep in-flight write looked
    stale; and the tick's other sweeps (.del-*, .cmp-*, .mrg-*)
    stayed eager. Now every tick-driven debris sweep skips artifacts
    whose NEWEST entry (anywhere beneath a staging dir) is inside the
    grace window, and sweeps them once aged. Op-entry recoveries
    (grace_s=0 default) stay eager."""
    import os
    import pathlib
    import time

    from streampro_assignment_etl_spark.pipeline.writers import (
        recover_delete_where,
        recover_merge_swap,
        recover_staged_swap,
    )

    root = pathlib.Path(tmp_path) / "t"
    root.mkdir()
    (root / "part-a.parquet").write_bytes(b"live")

    # fresh debris in each namespace
    del_stage = root / ".del-stage-0ddba11-0"
    del_stage.mkdir()
    (del_stage / "part-x.parquet").write_bytes(b"half")
    del_file = root / ".del-0ddba11-1.parquet"
    del_file.write_bytes(b"staged")
    mrg_stage = root / ".mrgstage-00000000dead"
    (mrg_stage / "part=1").mkdir(parents=True)
    (mrg_stage / "part=1" / "part-y.parquet").write_bytes(b"half")
    mrg_file = root / ".mrg-00000000dead-0.parquet"
    mrg_file.write_bytes(b"staged")
    swap_stage = root.parent / f".{root.name}.compact-0a0a0a0a"
    (swap_stage / "deep").mkdir(parents=True)
    (swap_stage / "deep" / "part-z.parquet").write_bytes(b"half")

    # tick-style sweep (grace): everything fresh survives
    assert recover_delete_where(str(root), grace_s=900) is False
    assert recover_merge_swap(str(root), grace_s=900) is False
    recover_staged_swap(str(root), grace_s=900)
    for p in (del_stage, del_file, mrg_stage, mrg_file, swap_stage):
        assert p.exists(), p

    # the ADVICE r18 #1 core: an OLD dir whose DEEP file is fresh is an
    # in-flight write (dir mtime lies; the newest entry under it is the
    # honest clock) — still protected
    old = time.time() - 3600
    for d in (del_stage, mrg_stage, swap_stage):
        os.utime(d, (old, old))
    assert recover_delete_where(str(root), grace_s=900) is False
    recover_staged_swap(str(root), grace_s=900)
    assert del_stage.exists() and mrg_stage.exists() and swap_stage.exists()

    # aged everywhere → swept
    for p in [root.parent] + [
        q for q in root.parent.rglob("*")
    ]:
        os.utime(p, (old, old))
    assert recover_delete_where(str(root), grace_s=900) is True
    assert recover_merge_swap(str(root), grace_s=900) is True
    recover_staged_swap(str(root), grace_s=900)
    for p in (del_stage, del_file, mrg_stage, mrg_file, swap_stage):
        assert not p.exists(), p
    assert (root / "part-a.parquet").exists()


def test_release_checksums_catch_same_size_bitrot(spark, tmp_path, capsys):
    """VERDICT r18 missing (b) + wrong #1: the release fingerprint was
    (path, bytes, rows), so same-size bit-rot was invisible to the
    fsck. snapshot_release(checksums=True) records a full-byte sha256
    per file (distributed over executors when spark= is passed, like
    the footer pass); verify_release(check_sums=True) recomputes and
    names the damaged file. Pins: a one-byte size-neutral flip passes
    the size AND row checks but fails the sum check; driver-loop and
    distributed snapshots record identical checksums; driver-loop and
    distributed fscks return identical reports; manifests recorded
    WITHOUT checksums verify size-only with the absence surfaced, not
    treated as damage; CLI faces."""
    import json as _json
    import pathlib

    from streampro_assignment_etl_spark.pipeline.cli import main
    from streampro_assignment_etl_spark.pipeline.release import (
        load_release,
        snapshot_release,
        verify_release,
    )

    tbl = str(tmp_path / "sums_t")
    spark.range(0, 400).selectExpr("id", "id % 2 AS day").repartition(
        2
    ).write.partitionBy("day").parquet(tbl)
    man = snapshot_release(tbl, "r1", checksums=True)
    files = [f for p in man["partitions"].values() for f in p["files"]]
    assert all(len(f.get("sha256", "")) == 64 for f in files)

    # distributed snapshot of the same content records the SAME sums
    man2 = snapshot_release(tbl, "r2", checksums=True, spark=spark)
    assert man2["partitions"] == man["partitions"]
    assert man2["fingerprint"] == man["fingerprint"]

    # healthy: both fsck routes agree and are fully green
    v_driver = verify_release(tbl, "r1", check_rows=True, check_sums=True)
    v_dist = verify_release(
        tbl, "r1", check_rows=True, check_sums=True, spark=spark
    )
    assert v_driver == v_dist
    assert v_driver["ok"] is True and v_driver["sum_mismatches"] == []
    assert v_driver["files_without_checksum"] == []

    # one-byte flip mid-file, size-neutral: rows + size still match,
    # only the checksum pass sees it — and it names the file
    root = pathlib.Path(tbl)
    victim = next(
        p
        for p in root.rglob("*.parquet")
        if not any(
            seg.startswith((".", "_"))
            for seg in p.relative_to(root).parts
        )
    )
    raw = bytearray(victim.read_bytes())
    # flip inside the DATA section (just past the 4-byte magic) — the
    # footer at the tail stays valid, so footer-only row checks still
    # read cleanly and genuinely miss the rot
    raw[40] ^= 0xFF
    victim.write_bytes(bytes(raw))
    assert verify_release(tbl, "r1", check_rows=True)["ok"] is True
    v = verify_release(tbl, "r1", check_sums=True)
    assert v["ok"] is False and len(v["sum_mismatches"]) == 1
    assert v["sum_mismatches"][0]["path"] == victim.relative_to(
        root
    ).as_posix()
    v_dist = verify_release(tbl, "r1", check_sums=True, spark=spark)
    assert v_dist == v

    # a checksum-less manifest (the pre-r19 shape) verifies size-only:
    # absence is surfaced, never damage
    tbl2 = str(tmp_path / "sums_t2")
    spark.range(0, 50).coalesce(1).write.parquet(tbl2)
    snapshot_release(tbl2, "r1")
    assert "sha256" not in next(
        iter(load_release(tbl2, "r1")["partitions"].values())
    )["files"][0]
    v2 = verify_release(tbl2, "r1", check_sums=True)
    assert v2["ok"] is True
    assert len(v2["files_without_checksum"]) == v2["files"] > 0

    # CLI: --checksums records, --check-sums fscks (exit 1 on rot)
    tbl3 = str(tmp_path / "sums_t3")
    spark.range(0, 60).coalesce(1).write.parquet(tbl3)
    assert main([
        "lake", "release-snapshot", "--path", tbl3, "--release-id", "r1",
        "--checksums",
    ]) == 0
    capsys.readouterr()
    assert main([
        "lake", "release-verify", "--path", tbl3, "--release-id", "r1",
        "--check-sums",
    ]) == 0
    capsys.readouterr()
    v3 = next(pathlib.Path(tbl3).rglob("part-*.parquet"))
    raw3 = bytearray(v3.read_bytes())
    raw3[40] ^= 0xFF
    v3.write_bytes(bytes(raw3))
    assert main([
        "lake", "release-verify", "--path", tbl3, "--release-id", "r1",
        "--check-sums",
    ]) == 1
    cli_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli_out["sum_mismatches"]


def test_tick_sweeps_emptied_partition_dirs(spark, tmp_path):
    """VERDICT r18 wrong #3: delete_where removes files, never dirs,
    so a partial delete that empties a partition leaves a zero-file
    directory on disk. The maintenance tick sweeps it — respecting
    the grace window (a fresh empty dir may be a partition a writer
    is about to fill) and never touching .retired/ or hidden
    staging."""
    import os
    import pathlib
    import time

    from streampro_assignment_etl_spark.pipeline.release import (
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import (
        delete_where,
        maintain_lake_table,
    )

    tbl = str(tmp_path / "edir_t")
    spark.range(0, 90).selectExpr("id", "id % 3 AS day").repartition(
        1
    ).write.partitionBy("day").parquet(tbl)
    root = pathlib.Path(tbl)
    snapshot_release(tbl, "r1")

    # protected partial delete wipes day=0 entirely: its files park
    # under .retired/, the emptied visible dir stays behind
    out = delete_where(
        spark, tbl, F.col("day") == 0, protect_releases=True
    )
    assert out["rows_deleted"] == 30
    gone = root / "day=0"
    assert gone.is_dir()
    assert not list(gone.rglob("*.parquet"))

    # fresh empty dir: the graced tick protects it (possibly a
    # partition about to be filled)
    tick = maintain_lake_table(spark, tbl, max_files=64)
    assert tick["empty_dirs_swept"] == 0 and gone.is_dir()

    # aged: swept — while .retired/ (a hidden tree, also "empty" of
    # visible files) and a fresh foreign staging dir survive
    old = time.time() - 3600
    for p in [root] + list(root.rglob("*")):
        os.utime(p, (old, old))
    stage = root / ".mrgstage-00000000dead"
    stage.mkdir()
    tick = maintain_lake_table(spark, tbl, max_files=64)
    assert tick["empty_dirs_swept"] == 1
    assert not gone.exists()
    assert (root / ".retired").is_dir() and stage.is_dir()
    assert spark.read.parquet(tbl).count() == 60  # readers unaffected

    # nested shape: an emptied two-level subtree sweeps from the
    # TOP-most empty dir down (one delete covers the subtree)
    tbl2 = str(tmp_path / "edir_n")
    spark.range(0, 40).selectExpr(
        "id", "id % 2 AS d", "id % 4 AS h"
    ).repartition(1).write.partitionBy("d", "h").parquet(tbl2)
    root2 = pathlib.Path(tbl2)
    delete_where(spark, tbl2, F.col("d") == 0)
    assert (root2 / "d=0").is_dir()
    for p in [root2] + list(root2.rglob("*")):
        os.utime(p, (old, old))
    tick = maintain_lake_table(spark, tbl2, max_files=64)
    assert tick["empty_dirs_swept"] == 1  # d=0 subsumes d=0/h=*
    assert not (root2 / "d=0").exists()
    assert spark.read.parquet(tbl2).count() == 20


def test_merge_upsert_multilevel_partitions(spark, tmp_path):
    """Round 19 (VERDICT r18 next #1): the partition-scoped merge
    accepts a SEQUENCE of partition columns and scopes on the full
    leaf partition dir — a date/hour layout merges one hour while its
    sibling hour in the same date, and every other date, stays
    untouched BYTES. The locality audit runs at leaf granularity with
    the same column list; files above the leaf depth refuse loudly;
    the injected-filesystem bridge takes the same route."""
    import glob
    import hashlib
    import os
    import pathlib

    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        audit_key_partition_locality,
        merge_upsert,
    )

    tbl = str(tmp_path / "ml_t")
    rows = [
        (d * 100 + h * 10 + i, f"v{d}{h}{i}", f"d{d}", h)
        for d in range(2)
        for h in range(2)
        for i in range(5)
    ]
    spark.createDataFrame(
        rows, "id INT, val STRING, date STRING, hour INT"
    ).repartition(1).write.partitionBy("date", "hour").parquet(tbl)

    md5s = lambda sub: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(tbl, sub, "*.parquet"))
    }
    untouched = ["date=d0/hour=0", "date=d1/hour=0", "date=d1/hour=1"]
    before = {s: md5s(s) for s in untouched}

    # one update to an existing key in (d0, 1), one new key there, one
    # new key in a brand-new leaf (d2, 0) — a pure insert
    upd = spark.createDataFrame(
        [
            (10, "UPDATED", "d0", 1),
            (999, "NEW", "d0", 1),
            (888, "NEWLEAF", "d2", 0),
        ],
        "id INT, val STRING, date STRING, hour INT",
    )
    out = merge_upsert(
        spark, tbl, upd, keys=("id",), partition_col=("date", "hour")
    )
    assert out == {
        "target_rows_before": 5,  # only the touched (d0,1) leaf read
        "updated": 1,
        "inserted": 2,
    }
    got = {
        (r["id"], r["val"]) for r in spark.read.parquet(tbl).collect()
    }
    assert (10, "UPDATED") in got and (10, "v001") not in got
    assert (999, "NEW") in got and (888, "NEWLEAF") in got
    assert len(got) == 22
    for s in untouched:
        assert md5s(s) == before[s], s  # sibling hour + other dates

    # leaf-granularity audit: clean after a contract-honoring merge
    audit = lambda cols: sorted(  # noqa: E731
        (r["id"], r["n_partitions"])
        for r in audit_key_partition_locality(
            spark, tbl, ("id",), cols
        ).collect()
    )
    assert audit(("date", "hour")) == []

    # violation at the SECOND level only: id=0 lives in (d0,0) but an
    # update stamps it (d0,1) — the leaf audit flags it, the
    # first-level audit (date alone) must NOT (same date)
    bad = spark.createDataFrame(
        [(0, "BAD", "d0", 1)], "id INT, val STRING, date STRING, hour INT"
    )
    merge_upsert(
        spark, tbl, bad, keys=("id",), partition_col=["date", "hour"]
    )
    assert audit(("date", "hour")) == [(0, 2)]
    assert audit("date") == []

    # bridge route agrees (same scoped merge through the fs seam)
    upd2 = spark.createDataFrame(
        [(110, "BRIDGED", "d1", 1)],
        "id INT, val STRING, date STRING, hour INT",
    )
    out2 = merge_upsert(
        spark,
        tbl,
        upd2,
        keys=("id",),
        partition_col=("date", "hour"),
        filesystem=pafs.LocalFileSystem(),
    )
    assert out2["updated"] == 1 and out2["inserted"] == 0
    got2 = {
        (r["id"], r["val"]) for r in spark.read.parquet(tbl).collect()
    }
    assert (110, "BRIDGED") in got2

    # a parquet file ABOVE the leaf depth can't be scoped — refuse
    stray = pathlib.Path(tbl) / "date=d0" / "stray.parquet"
    import shutil as _sh

    _sh.copy(
        glob.glob(os.path.join(tbl, "date=d0/hour=0", "*.parquet"))[0],
        stray,
    )
    with pytest.raises(ValueError, match="leaf partition depth"):
        merge_upsert(
            spark, tbl, upd2, keys=("id",), partition_col=("date", "hour")
        )
    stray.unlink()


def test_drop_partitions_refuses_inner_column(spark, tmp_path):
    """Round 19: drop_partitions_before on a nested layout drops by
    the FIRST-level column (sub-partitions go with the dir — the
    correct age-out); naming an INNER column used to no-op silently
    ('dropped': [] reads as 'nothing expired') — now it refuses
    loudly."""
    from streampro_assignment_etl_spark.pipeline.writers import (
        drop_partitions_before,
    )

    tbl = str(tmp_path / "nest_drop")
    spark.createDataFrame(
        [(i, f"2025-09-{d:02d}", h) for i in range(4) for d in (1, 2) for h in (0, 1)],
        "id INT, date STRING, hour INT",
    ).repartition(1).write.partitionBy("date", "hour").parquet(tbl)

    with pytest.raises(ValueError, match="FIRST-level"):
        drop_partitions_before(tbl, "hour", "1")

    out = drop_partitions_before(tbl, "date", "2025-09-02")
    assert out["dropped"] == ["2025-09-01"] and out["kept"] == ["2025-09-02"]
    import pathlib

    assert not (pathlib.Path(tbl) / "date=2025-09-01").exists()
    assert spark.read.parquet(tbl).count() == 8


def test_merge_upsert_multilevel_against_moto_s3(spark, tmp_path, moto_s3):
    """Round 19: the multi-level partition-scoped merge over the S3
    wire protocol — touched LEAF mirrors/rewrites through the .mrg-
    manifest swap, the sibling hour inside the touched date keeps its
    objects ETag-identical, and a brand-new nested leaf is a pure
    insert whose dirs didn't exist before."""
    import boto3
    import pyarrow.dataset as pads
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import merge_upsert

    base_df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 2}", (i // 2) % 2) for i in range(80)],
        "id INT, val STRING, date STRING, hour INT",
    )
    local = tmp_path / "mlseed"
    base_df.repartition(1).write.partitionBy("date", "hour").parquet(
        str(local)
    )

    bucket = "sparkgraft-mlmerge"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    s3tbl = f"{bucket}/lake/ml_t"
    for p in local.rglob("*.parquet"):
        rel = p.relative_to(local).as_posix()
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        with open(p, "rb") as f, fs.open_output_stream(f"{s3tbl}/{rel}") as o:
            o.write(f.read())

    def etags(prefix):
        return {
            o["Key"]: o["ETag"]
            for o in s3.list_objects_v2(
                Bucket=bucket, Prefix=f"lake/ml_t/{prefix}"
            ).get("Contents", [])
            if o["Key"].endswith(".parquet")
        }

    sibling = etags("date=d0/hour=1/")
    other_date = etags("date=d1/")
    assert sibling and other_date

    upd = spark.createDataFrame(
        [
            (0, "REMOTE", "d0", 0),  # existing key, touched leaf (d0,0)
            (900, "REMOTE", "d0", 0),  # new key, same leaf
            (901, "NEWLEAF", "d7", 1),  # brand-new nested leaf
        ],
        "id INT, val STRING, date STRING, hour INT",
    )
    stats = merge_upsert(
        spark, s3tbl, upd, keys=("id",), partition_col=("date", "hour"),
        filesystem=fs,
    )
    assert stats == {"target_rows_before": 20, "updated": 1, "inserted": 2}

    pdf = (
        pads.dataset(
            s3tbl, filesystem=fs, format="parquet", partitioning="hive"
        )
        .to_table()
        .to_pandas()
    )
    assert len(pdf) == 82
    assert set(pdf[pdf.val == "REMOTE"].id) == {0, 900}
    assert set(pdf[(pdf.date == "d7")].id) == {901}
    assert etags("date=d0/hour=1/") == sibling  # sibling hour: same ETags
    assert etags("date=d1/") == other_date  # other date: same ETags


def test_mixed_layout_refused_everywhere(spark, tmp_path):
    """Round 19 (found by the release-pin hypothesis property): a table
    mixing root-level parquet files with partition dirs — the shape a
    flat mode('append') onto a partitioned table produces — reads
    SILENTLY WRONG in Spark: partition discovery drops the root-level
    rows from every scan, with or without basePath (measured: 15-row
    table scans as 10). For compaction / whole-table merge that is
    data LOSS, for delete_where a takedown that misses subject rows,
    for the pinned readers a silent subset. Every one of them now
    refuses loudly instead; snapshot_release records but warns."""
    from streampro_assignment_etl_spark.pipeline.release import (
        read_release,
        read_table_snapshot,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_parquet,
        delete_where,
        merge_upsert,
    )

    tbl = str(tmp_path / "mixed" / "t")
    spark.createDataFrame(
        [(i, f"d{i % 2}") for i in range(10)], "id long, day string"
    ).repartition(1).write.partitionBy("day").parquet(tbl)
    # the hazard, demonstrated before staging the mixed layout: a
    # healthy partitioned table scans all 10 rows
    assert spark.read.parquet(tbl).count() == 10
    spark.createDataFrame(
        [(900 + i, "d9") for i in range(5)], "id long, day string"
    ).coalesce(1).write.mode("append").parquet(tbl)  # FLAT append
    # Spark silently loses the appended rows — the reason for the guard
    assert spark.read.parquet(tbl).count() == 10

    with pytest.raises(ValueError, match="silently DROP"):
        compact_parquet(spark, tbl)
    with pytest.raises(ValueError, match="silently DROP"):
        delete_where(spark, tbl, "id = 0")
    upd = spark.createDataFrame([(0, "d0")], "id long, day string")
    with pytest.raises(ValueError, match="silently DROP"):
        merge_upsert(spark, tbl, upd, keys=("id",))
    with pytest.raises(ValueError, match="silently DROP"):
        read_table_snapshot(spark, tbl)
    snapshot_release(tbl, "rmix")  # recording is honest (warns)
    with pytest.raises(ValueError, match="silently DROP"):
        read_release(spark, tbl, "rmix")


def test_compact_parquet_preserves_hive_layout_by_default(spark, tmp_path):
    """Round 19 (found by the release-pin property drawing compact-
    then-merge): whole-table compact_parquet without partition_col
    used to FLATTEN a Hive-partitioned table — silently destroying
    partition pruning for every later query and breaking the
    partition-scoped merge's layout contract. Now a consistent layout
    (any depth) is auto-detected and preserved; a flat table stays
    flat; explicit partition_col still overrides."""
    import pathlib

    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_parquet,
        merge_upsert,
    )

    tbl = str(tmp_path / "keep_layout")
    spark.createDataFrame(
        [(i, f"d{i % 2}", i % 2) for i in range(40)],
        "id INT, date STRING, hour INT",
    ).repartition(6).write.partitionBy("date", "hour").parquet(tbl)
    root = pathlib.Path(tbl)
    want = sorted(
        (r["id"], r["date"], int(r["hour"]))
        for r in spark.read.parquet(tbl).collect()
    )
    out = compact_parquet(spark, tbl)
    assert out["files_after"] < out["files_before"]
    leaves = {
        p.parent.relative_to(root).as_posix()
        for p in root.rglob("*.parquet")
        if not any(
            s.startswith((".", "_")) for s in p.relative_to(root).parts
        )
    }
    # every leaf keeps the two-level date=/hour= shape — nothing flat
    assert leaves and all(
        l.startswith("date=") and "/hour=" in l for l in leaves
    ), leaves
    assert sorted(
        (r["id"], r["date"], int(r["hour"]))
        for r in spark.read.parquet(tbl).collect()
    ) == want
    # and the partition-scoped merge keeps working on the compacted
    # table (the exact compact-then-merge sequence the property drew)
    merge_upsert(
        spark,
        tbl,
        spark.createDataFrame(
            [(0, "d0", 0)], "id INT, date STRING, hour INT"
        ),
        keys=("id",),
        partition_col=("date", "hour"),
    )

    # flat stays flat
    flat = str(tmp_path / "stay_flat")
    spark.range(100).repartition(5).write.parquet(flat)
    compact_parquet(spark, flat)
    assert all(
        "/" not in p.relative_to(flat).as_posix()
        for p in pathlib.Path(flat).rglob("*.parquet")
        if not any(
            s.startswith((".", "_"))
            for s in p.relative_to(flat).parts
        )
    )
    assert spark.read.parquet(flat).count() == 100


def test_release_row_delta_nested_layout_prunes_and_stays_exact(
    spark, tmp_path
):
    """Round 19: release manifests group files by the FIRST-level Hive
    component, so release_row_delta's pruning soundness condition
    (first-level col among key_cols) is depth-correct for nested
    layouts unchanged. Pins: exact delta over a date/hour table whose
    change touches one date (pruned route), and the same delta
    without the partition col in key_cols (unpruned route) — both
    match."""
    from streampro_assignment_etl_spark.pipeline.release import (
        release_row_delta,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import delete_where

    tbl = str(tmp_path / "rrd_nest")
    spark.createDataFrame(
        [(i, f"d{i % 2}", i % 3) for i in range(60)],
        "id INT, date STRING, hour INT",
    ).repartition(1).write.partitionBy("date", "hour").parquet(tbl)
    snapshot_release(tbl, "r1")
    delete_where(spark, tbl, "id = 7 OR id = 13", protect_releases=True)
    snapshot_release(tbl, "r2")

    pruned = sorted(
        (r["id"], r["date"], r["_change"])
        for r in release_row_delta(
            spark, tbl, "r1", "r2", ["id", "date"]
        ).collect()
    )
    assert pruned == [(7, "d1", "removed"), (13, "d1", "removed")]
    unpruned = sorted(
        (r["id"], r["_change"])
        for r in release_row_delta(spark, tbl, "r1", "r2", ["id"]).collect()
    )
    assert unpruned == [(7, "removed"), (13, "removed")]

    # leaf-granularity pruning (r19), pinned BEHAVIORALLY: damage an
    # UNCHANGED sibling hour inside the changed date — a delta whose
    # key_cols carry every partition column (leaf-sound) never reads
    # that leaf and stays exact, while the first-level-sound delta
    # (date only) must read all of date=d1 and trips on the damage.
    # The deltas above located the change in date=d1 (ids 7, 13).
    import pathlib

    root = pathlib.Path(tbl)
    changed_hours = {
        int(r["hour"])
        for r in release_row_delta(
            spark, tbl, "r1", "r2", ["id", "date", "hour"]
        ).collect()
    }
    sibling_hour = next(
        h for h in (0, 1, 2) if h not in changed_hours
    )
    victim = next(root.glob(f"date=d1/hour={sibling_hour}/*.parquet"))
    moved = victim.with_suffix(".hidden")
    victim.rename(moved)
    try:
        leaf = sorted(
            (r["id"], int(r["hour"]), r["_change"])
            for r in release_row_delta(
                spark, tbl, "r1", "r2", ["id", "date", "hour"]
            ).collect()
        )
        assert [(i, c) for i, _, c in leaf] == [
            (7, "removed"), (13, "removed")
        ]
        with pytest.raises(FileNotFoundError):
            release_row_delta(
                spark, tbl, "r1", "r2", ["id", "date"]
            ).collect()
    finally:
        moved.rename(victim)
    # restored: both granularities agree again
    assert sorted(
        (r["id"], r["_change"])
        for r in release_row_delta(
            spark, tbl, "r1", "r2", ["id", "date"]
        ).collect()
    ) == [(7, "removed"), (13, "removed")]


def test_cli_lake_merge_multilevel_face(spark, tmp_path, capsys):
    """Round 19: the CLI merge/audit faces take a comma-separated
    --partition-col for multi-level layouts."""
    import json as _json

    from streampro_assignment_etl_spark.pipeline.cli import main

    tbl = str(tmp_path / "cli_ml")
    spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 2}", i % 2) for i in range(20)],
        "id INT, val STRING, date STRING, hour INT",
    ).repartition(1).write.partitionBy("date", "hour").parquet(tbl)
    upd = str(tmp_path / "cli_ml_upd")
    spark.createDataFrame(
        [(0, "CLI", "d0", 0)], "id INT, val STRING, date STRING, hour INT"
    ).write.parquet(upd)

    assert main([
        "lake", "merge", "--path", tbl, "--updates", upd,
        "--keys", "id", "--partition-col", "date,hour",
    ]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["updated"] == 1 and out["inserted"] == 0
    assert main([
        "lake", "audit-locality", "--path", tbl,
        "--keys", "id", "--partition-col", "date,hour",
    ]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["violating_keys"] == 0




def test_nested_compaction_and_drop_against_moto_s3(spark, tmp_path, moto_s3):
    """Round 19: the per-leaf compaction sweep and the first-level
    retention drop over the S3 wire protocol on a two-level layout —
    the hot (date, hour) leaf folds while its sibling hour and other
    dates keep ETag-identical objects; drop_partitions_before on the
    first-level column takes the whole date subtree and refuses the
    inner column loudly."""
    import boto3
    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_fragmented_partitions,
        drop_partitions_before,
    )

    local = tmp_path / "nseed"
    for h, parts in ((0, 2), (1, 12)):
        spark.range(60).selectExpr(
            "id", "'2025-09-01' AS date", f"{h} AS hour"
        ).repartition(parts).write.mode("append").partitionBy(
            "date", "hour"
        ).parquet(str(local))
    spark.range(40).selectExpr(
        "id + 500 AS id", "'2025-09-02' AS date", "0 AS hour"
    ).repartition(2).write.mode("append").partitionBy(
        "date", "hour"
    ).parquet(str(local))

    bucket = "sparkgraft-nestcmp"
    boto3.client("s3", endpoint_url=moto_s3).create_bucket(Bucket=bucket)
    s3 = boto3.client("s3", endpoint_url=moto_s3)
    fs = pafs.S3FileSystem(
        endpoint_override=moto_s3, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    tbl = f"{bucket}/lake/nest"
    for p in local.rglob("*.parquet"):
        rel = p.relative_to(local).as_posix()
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        with open(p, "rb") as f, fs.open_output_stream(f"{tbl}/{rel}") as o:
            o.write(f.read())

    def etags(prefix):
        return {
            o["Key"]: o["ETag"]
            for o in s3.list_objects_v2(
                Bucket=bucket, Prefix=f"lake/nest/{prefix}"
            ).get("Contents", [])
            if o["Key"].endswith(".parquet")
        }

    cold = {
        pfx: etags(pfx)
        for pfx in ("date=2025-09-01/hour=0/", "date=2025-09-02/hour=0/")
    }
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(str(local)).select("id").collect()
    )
    out = compact_fragmented_partitions(
        spark, tbl, max_files_per_partition=8, filesystem=fs
    )
    assert out["partitions_compacted"] == ["date=2025-09-01/hour=1"]
    assert len(etags("date=2025-09-01/hour=1/")) <= 8
    for pfx, want_tags in cold.items():
        assert etags(pfx) == want_tags, pfx  # sibling + other date
    import pyarrow.dataset as pads

    got = sorted(
        (int(i),)
        for i in pads.dataset(
            tbl, filesystem=fs, format="parquet", partitioning="hive"
        ).to_table(columns=["id"]).to_pandas()["id"]
    )
    assert got == want

    # retention: inner column refuses; first-level drop takes the
    # whole date subtree with it through the same seam
    with pytest.raises(ValueError, match="FIRST-level"):
        drop_partitions_before(tbl, "hour", "1", filesystem=fs)
    out2 = drop_partitions_before(
        tbl, "date", "2025-09-02", filesystem=fs
    )
    assert out2["dropped"] == ["2025-09-01"]
    assert not etags("date=2025-09-01/")
    assert len(etags("date=2025-09-02/")) > 0


def test_manifest_seam_fence_listing_and_swap_recovery(tmp_path):
    """The lifecycle seam the ANN index and the fuzzy dedup store share
    (``pipeline/object_swap.py``), pinned on a local pyarrow filesystem
    with no Spark session: (1) a stale ``expect_epoch`` raises "moved
    from epoch" and writes no file; (2) ``.tmp-`` stagings, manifest-
    named directories and non-integer epochs are never listed; (3) for
    both trash-name encodings (the index's ``.del-old-<tok>-<a~b>`` with
    ``.del-<tok>`` staging roots, the store's ``.rm-old-<tok>-<sub>``
    with ``.rm-<tok>-<sub>`` staging dirs) trash beside a live dir is
    dropped, trash without one is restored (creating the nested
    parent), minted staging is swept, and foreign dot-dirs sharing a
    prefix survive untouched."""
    import os

    import pyarrow.fs as pafs

    from streampro_assignment_etl_spark.operators import ann_index
    from streampro_assignment_etl_spark.pipeline.object_swap import (
        commit_epoch,
        list_epochs,
        read_latest,
        swap_dir,
    )
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    fs = pafs.LocalFileSystem()
    log = tmp_path / "log"
    for prefix in (ann_index.MODEL_PREFIX, fsi.MANIFEST_PREFIX):
        assert commit_epoch(str(log), prefix, {"version": 1, "epoch": 1}, 0) == 1
        before = sorted(os.listdir(log))
        with pytest.raises(RuntimeError, match="moved from epoch"):
            commit_epoch(str(log), prefix, {"version": 1, "epoch": 1}, 0)
        assert sorted(os.listdir(log)) == before
        (log / ".tmp-0123456789ab").write_text("{}")
        (log / f"{prefix}latest-0123456789ab.json").write_text("{}")
        (log / f"{prefix}000000000009-0123456789ab.json").mkdir()
        assert [e for e, _ in list_epochs(fs, str(log), prefix)] == [1]
        assert commit_epoch(str(log), prefix, {"version": 1, "epoch": 2}, 1) == 2
        assert read_latest(fs, str(log), prefix) == {"version": 1, "epoch": 2}

    # the forward swap: staged replaces live; nothing staged → live gone
    (tmp_path / "sw" / "live" / "old").mkdir(parents=True)
    (tmp_path / "sw" / "staged" / "new").mkdir(parents=True)
    sw = str(tmp_path / "sw")
    swap_dir(fs, f"{sw}/live", f"{sw}/staged", f"{sw}/.trash")
    assert os.listdir(tmp_path / "sw") == ["live"]
    assert os.listdir(tmp_path / "sw" / "live") == ["new"]
    swap_dir(fs, f"{sw}/live", f"{sw}/staged", f"{sw}/.trash")
    assert os.listdir(tmp_path / "sw") == []

    tok = "0123456789ab"
    # index encoding — no manifest yet, so the legacy `encoded` snapshot
    idx = tmp_path / "idx"
    snap = idx / "encoded"
    (snap / "ingest=base" / "cell=1").mkdir(parents=True)
    (snap / f".del-old-{tok}-ingest=base~cell=1").mkdir()
    (snap / f".del-old-{tok}-ingest=u7~cell=2" / "part").mkdir(parents=True)
    (snap / f".del-{tok}" / "ingest=u7").mkdir(parents=True)
    for d in (".del-old-x", ".del-notatoken"):
        (snap / d).mkdir()
    assert ann_index.recover_index_delete(str(idx)) == {
        "restored": ["ingest=u7/cell=2"],
        "dropped": ["ingest=base/cell=1"],
        "staging_swept": [f".del-{tok}"],
    }
    assert (snap / "ingest=u7" / "cell=2" / "part").is_dir()
    assert sorted(os.listdir(snap)) == [
        ".del-notatoken", ".del-old-x", "ingest=base", "ingest=u7",
    ]

    # store encoding — no manifest yet, so the legacy fixed kind dirs
    st = tmp_path / "fstore"
    done, stranded = "s-b000000000000", "s-b000000000001"
    for kind in ("store", "docs"):
        kd = st / kind
        (kd / f"ingest={done}").mkdir(parents=True)
        (kd / f".rm-old-{tok}-{done}").mkdir()
        (kd / f".rm-old-{tok}-{stranded}").mkdir()
        (kd / f".rm-{tok}-{stranded}").mkdir()
        for d in (".rm-old-x", ".rm-junk"):
            (kd / d).mkdir()
    assert fsi.recover_store_removal(str(st)) == {
        "restored": [f"{k}/ingest={stranded}" for k in ("docs", "store")],
        "dropped": [f"{k}/ingest={done}" for k in ("docs", "store")],
        "staging_swept": [f"{k}/.rm-{tok}-{stranded}" for k in ("docs", "store")],
    }
    for kind in ("store", "docs"):
        assert sorted(os.listdir(st / kind)) == [
            ".rm-junk", ".rm-old-x", f"ingest={done}", f"ingest={stranded}",
        ]


def test_expire_fuzzy_store_sweeps_superseded_resign_dirs(tmp_path):
    """``expire_fuzzy_store`` treats ``resign_store``'s
    ``<kind>-resign-<token>`` dirs like compaction snapshots: once a
    later manifest supersedes them and they are past the grace horizon
    they are deleted with their manifest file; dirs the live manifest
    names stay, whether ``-resign-`` or ``-snap-``. No Spark session."""
    import os
    import time

    from streampro_assignment_etl_spark.pipeline.object_swap import commit_epoch
    from streampro_assignment_etl_spark.streaming import fuzzy_store_ingest as fsi

    st = tmp_path / "fstore"
    st.mkdir()
    kinds = ("store", "docs", "decisions")

    def commit(epoch, dirs):
        for d in dirs.values():
            (st / d).mkdir()
        doc = fsi._manifest_doc(dirs, None, epoch)
        commit_epoch(str(st), fsi.MANIFEST_PREFIX, doc, epoch - 1)

    def age_all():
        old = time.time() - 7200
        for n in os.listdir(st):
            os.utime(st / n, (old, old))

    resign1 = {k: f"{k}-resign-0123456789ab" for k in kinds}
    snap2 = {k: f"{k}-snap-0123456789ac" for k in kinds}
    commit(1, resign1)
    commit(2, snap2)
    # inside the grace horizon nothing goes
    assert fsi.expire_fuzzy_store(None, str(st), min_age_seconds=3600) == []
    age_all()
    deleted = fsi.expire_fuzzy_store(None, str(st), min_age_seconds=3600)
    assert sorted(d for d in deleted if not d.startswith(fsi.MANIFEST_PREFIX)) == sorted(
        resign1.values()
    )
    assert sum(d.startswith(fsi.MANIFEST_PREFIX) for d in deleted) == 1
    assert {n for n in os.listdir(st) if not n.startswith(fsi.MANIFEST_PREFIX)} == set(
        snap2.values()
    )

    # a live resign snapshot stays; the superseded compaction one goes
    resign3 = {k: f"{k}-resign-0123456789ad" for k in kinds}
    commit(3, resign3)
    age_all()
    deleted = fsi.expire_fuzzy_store(None, str(st), min_age_seconds=3600)
    assert sorted(d for d in deleted if not d.startswith(fsi.MANIFEST_PREFIX)) == sorted(
        snap2.values()
    )
    assert {n for n in os.listdir(st) if not n.startswith(fsi.MANIFEST_PREFIX)} == set(
        resign3.values()
    )
    assert fsi.load_store_manifest(str(st))["dirs"] == resign3
