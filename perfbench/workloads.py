"""The benchmark's workloads: inputs, one op, and the output check.

Each workload generates its inputs from the seed (``gen.py``), then the
runner drives ops in a closed loop. An op calls only the public surface:
registry builders plus a ``noop`` write, or the pipeline processors plus
the windowed event stream. Checks run outside every timed interval and
compare against DuckDB over the same generated inputs.
"""

from __future__ import annotations

import os
import random
import re
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen

NOTEBOOK = (
    "sp_q1_first_session_conversion", "sp_q2_dominant_genre_retention",
    "sp_q3_dropoff_outliers", "sp_drilldown_worst_combo", "sp_session_overview",
    "sp_daily_patterns", "pricing_summary", "join_dims_rollup", "theta_range_join",
)
_TABLE_RE = re.compile(r"\b(" + "|".join(gen.TABLES) + r")\b")


class Failed(Exception):
    """An op's output did not match the oracle."""


class NotebookWorkload:
    """The reference's read-only notebook queries and registry rollups
    over one generated dataset; one op is one builder call plus a
    ``noop`` write. The cold pass collects each result instead, so every
    query is checked once against its oracle."""

    pipeline = False
    queries = NOTEBOOK
    round_len = len(NOTEBOOK)

    def __init__(self, sf: float):
        self.sf = sf

    def generate(self, seed: int, root: Path, sf: float | None = None) -> None:
        # All ten tables: the oracle connection opens a view on each.
        tables = gen.make_tables(seed, sf or self.sf)
        self.data = root / "data"
        gen.write_tables(tables, self.data)
        self.rows = {n: t.num_rows for n, t in tables.items()}
        self.rng = random.Random(seed)

    def _tables(self, q: str) -> set[str]:
        from streampro_assignment_etl_spark.queries import REGISTRY

        return set(_TABLE_RE.findall(REGISTRY[q].oracle))

    def cold_ops(self) -> list[str]:
        return self.rng.sample(self.queries, len(self.queries))

    def timed_ops(self):
        while True:
            yield from self.rng.sample(self.queries, len(self.queries))

    def input_rows(self, q: str) -> int:
        return sum(self.rows[t] for t in self._tables(q))

    def run(self, spark, q: str, tr, cold: bool, probe=None):
        from streampro_assignment_etl_spark.queries import REGISTRY, release_persisted

        release_persisted()
        with tr.span("queries.build"):
            if probe:
                probe.before_build()
            df = REGISTRY[q].builder(spark, str(self.data))
            if probe:
                probe.after_build(q, df)
        with tr.span("spark.exec"):
            if cold:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, q: str, result, corrupt: bool = False) -> None:
        from streampro_assignment_etl_spark.oracle import compare_frames, duckdb_connect
        from streampro_assignment_etl_spark.queries import REGISTRY

        if corrupt:
            result = result.iloc[1:] if len(result) else result.assign(_corrupt=1)
        con = duckdb_connect(str(self.data))
        try:
            expected = con.execute(REGISTRY[q].oracle).df()
        finally:
            con.close()
        problems = compare_frames(q, result, expected)
        if problems:
            raise Failed("; ".join(f"{p.kind}: {p.detail}" for p in problems[:3]))

    def close(self) -> None:
        pass


class MedallionWorkload:
    """The reference's daily job as a backfill: per date (one op),
    landing -> raw, raw -> trusted, then an incremental availableNow
    drain of that day's events through the windowed stream, on one
    checkpoint across all dates."""

    pipeline = True
    round_len = 1

    def __init__(self, sf: float, days: int):
        self.sf, self.days = sf, days

    def generate(self, seed: int, root: Path, sf: float | None = None) -> None:
        from streampro_assignment_etl_spark.pipeline.lake import LakeStorage
        from streampro_assignment_etl_spark.queries import REGISTRY

        tables = gen.make_tables(seed, sf or self.sf, only=("customer", "events"), days=self.days)
        self.root = root / "lake"
        self.lake = LakeStorage(self.root)
        self.lake.ensure_zones()
        self.expected = gen.write_landing(tables, seed, self.root / "landing", self.days)
        self.dates = gen.event_dates(self.days)
        self.stream_landing = root / "stream_landing"
        self.stream_landing.mkdir()
        self.sink, self.ckpt = root / "stream_out", root / "stream_ckpt"
        con = duckdb.connect()
        con.register("events", tables["events"])
        rollup = con.execute(REGISTRY["streaming_windowed_counts"].oracle).df()
        con.close()
        day = rollup["window_start"].str.slice(0, 10)
        self.rollups = {d: g.reset_index(drop=True) for d, g in rollup.groupby(day)}
        self.seen_batches: set[str] = set()
        self.prev_proc = None

    # Dates run as set-up: op latency falls over the first six or so
    # (from 2.7 s to 1.5-1.8 s on four cores) while the JVM warms.
    WARM_DATES = 6

    def cold_ops(self) -> list[str]:
        return self.dates[:self.WARM_DATES]

    def timed_ops(self):
        yield from self.dates[self.WARM_DATES:]

    def input_rows(self, d: str) -> int:
        return self.expected[d]["events"] + self.expected[d]["customer"]

    def run(self, spark, d: str, tr, cold: bool, probe=None):
        from streampro_assignment_etl_spark.pipeline.landing_to_raw import LandingToRawProcessor
        from streampro_assignment_etl_spark.pipeline.raw_to_trusted import RawToTrustedProcessor
        from streampro_assignment_etl_spark.pipeline.schemas import TESTDATA_TABLES
        from streampro_assignment_etl_spark.streaming.events_stream import (
            read_events_stream,
            run_stream_to_parquet,
            windowed_event_counts,
        )

        with tr.span("pipeline.landing_to_raw"):
            raw = LandingToRawProcessor(self.lake, d).run()
        if not raw.is_success:
            raise Failed(f"landing_to_raw: {raw.error}")
        with tr.span("pipeline.raw_to_trusted"):
            proc = RawToTrustedProcessor(
                spark, self.lake, d, registry=TESTDATA_TABLES,
                register_views=(d == self.dates[-1]),
            )
            trusted = proc.run()
        if not trusted.is_success:
            proc.cleanup()
            raise Failed(f"raw_to_trusted: {trusted.error}")
        if self.prev_proc is not None:
            self.prev_proc.cleanup()
        self.prev_proc = proc
        with tr.span("bench.stage"):
            name = f"events_{d}.jsonl"
            os.link(self.root / "landing" / name, self.stream_landing / name)
        with tr.span("streaming.drain"):
            stream = windowed_event_counts(read_events_stream(spark, str(self.stream_landing)))
            run_stream_to_parquet(
                stream, str(self.sink), str(self.ckpt), mode="update",
                shuffle_partitions=8, checkpoint_file_checksum=False,
            )
        return trusted

    def check(self, d: str, trusted, corrupt: bool = False) -> None:
        from streampro_assignment_etl_spark.oracle import compare_frames

        # The drain's new sink batches, taken first so that a failed
        # trusted check does not leave them to the next date's check.
        new = sorted(
            (p for p in self.sink.glob("batch_id=*") if p.name not in self.seen_batches),
            key=lambda p: int(p.name.split("=")[1]),
        )
        self.seen_batches.update(p.name for p in new)
        want = self.expected[d]
        observed = trusted.metadata["observed"]
        for table in ("events", "customer"):
            part = self.root / "trusted" / table / f"ingestion_date={d}"
            landed = (pq.read_table(part).num_rows if part.exists() else 0) - corrupt
            seen = observed[f"trusted_{table}"]["rows"]
            if not landed == seen == want[table]:
                raise Failed(f"trusted {table} {d}: rows {landed} observed {seen} landed {want[table]}")
        # Latest row per window key across the new batches.
        frames = []
        for i, p in enumerate(new):
            files = sorted(p.glob("*.parquet"))
            if files:
                t = pads.dataset(files).to_table().to_pandas()
                frames.append(t.assign(_b=i))
        got = (
            pd.concat(frames).sort_values("_b").drop_duplicates(
                ["window_start", "event_type"], keep="last").drop(columns="_b")
            if frames else pd.DataFrame(columns=self.rollups[d].columns)
        )
        problems = compare_frames(f"stream {d}", got.reset_index(drop=True), self.rollups[d])
        if problems:
            # A drain that timed out returns normally with a partial sink.
            raise Failed("; ".join(f"{p.kind}: {p.detail}" for p in problems[:3]))

    def layer_counts(self, d: str) -> dict[str, float]:
        parts = [self.root / "trusted" / t / f"ingestion_date={d}" for t in ("events", "customer")]
        files = [f for p in parts for f in p.glob("*.parquet")]
        landed = sum((self.root / "landing" / f"{t}_{d}.{x}").stat().st_size
                     for t, x in (("events", "jsonl"), ("customer", "csv")))
        return {
            "trusted_files_per_date": float(len(files)),
            "trusted_bytes_per_input_byte": sum(f.stat().st_size for f in files) / landed,
        }

    def close(self) -> None:
        if self.prev_proc is not None:
            self.prev_proc.cleanup()


WORKLOADS = {
    # sf0.2 over 60 days: each date carries what a date of the 30-day
    # sf0.1 set does, and a fast run does not run out of dates.
    "medallion_backfill": lambda: MedallionWorkload(sf=0.2, days=60),
    "notebook_analytics": lambda: NotebookWorkload(sf=0.01),
}
