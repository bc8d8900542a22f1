#!/usr/bin/env python
"""Synthesize an sfN-equivalent dataset from /root/testdata/sf0.1 by
unioning N key-remapped copies — the round-7 VERDICT's 10× scale soak
input (``SCALE.md`` appendix "sf1 soak").

No network, no Spark: pyarrow reads each table once, adds a per-copy
offset to every key column (so joins stay key-correct and families
don't collide across copies), concatenates, and writes one parquet per
table. Physical types are preserved exactly — ``events.ts`` stays
TIMESTAMP(MICROS, isAdjustedToUTC=false) as in every testdata scale (a
TIMESTAMP(NANOS) source would stay nanos, which the loader still
converts), ``embeddings.embedding`` stays ``list<float>`` — so the
loaders exercise the same code paths as the driver-generated data.

Deliberate non-remaps, which make the result a HIGH-DUPLICATION corpus
rather than a naturally grown one (noted in the soak appendix):
``documents.text`` and ``embeddings.embedding`` are copied verbatim, so
every document gains N-1 exact duplicates — the dedup/ANN soak measures
the duplicate-heavy stress (cross-copy LSH cohorts grow ~N², the
realistic worst case for raw web crawl), not just N× row count.

Usage: python tools/make_scaled_testdata.py [N] [SRC_DIR] [OUT_DIR]
Defaults: N=10, SRC=/root/testdata/sf0.1, OUT=/tmp/sf1
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Per-copy key offsets; comfortably above each table's max key so copy
# i's key space is disjoint from copy j's, while FK families line up
# (orders.o_custkey moves by the same stride as customer.c_custkey).
OFFSETS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 100_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
# Fixed-cardinality dims: one copy, shared by every replicated FK.
SINGLE_COPY = ("region", "nation")


def scale_table(src: Path, out: Path, name: str, n: int) -> int:
    table = pq.read_table(src / f"{name}.parquet")
    if name in SINGLE_COPY:
        pq.write_table(table, out / f"{name}.parquet")
        return table.num_rows
    # Row-group sizing is the PARALLELISM of every downstream scan: a
    # single-row-group file (the driver testdata's layout) can only be
    # read by one task no matter what maxPartitionBytes says — the
    # round-8 soak initially measured serial reads because of this.
    # ~256 groups spreads any of these tables across local[32] with
    # room for skew, floored so tiny tables don't fragment.
    n_total = table.num_rows * n
    row_group_size = max(4096, n_total // 256)
    # Strides must dominate the source's key space, or copy i's keys
    # collide with copy i+1's (e.g. chaining the tool on its own sf1
    # output) — corrupting every dedup/join soak with no error.
    for col, stride in OFFSETS[name].items():
        mx = pc.max(table.column(col)).as_py()
        if mx is not None and mx >= stride:
            raise ValueError(
                f"{name}.{col}: max key {mx} >= per-copy stride {stride}; "
                "source already scaled? raise the stride or rescale from "
                "the original sf dir"
            )
    copies = []
    for i in range(n):
        t = table
        for col, stride in OFFSETS[name].items():
            idx = t.schema.get_field_index(col)
            shifted = pc.add(t.column(idx), pa.scalar(i * stride, t.schema.field(idx).type))
            t = t.set_column(idx, t.schema.field(idx), shifted)
        copies.append(t)
    combined = pa.concat_tables(copies)
    pq.write_table(combined, out / f"{name}.parquet", row_group_size=row_group_size)
    return combined.num_rows


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = Path(sys.argv[2]) if len(sys.argv) > 2 else Path("/root/testdata/sf0.1")
    out = Path(sys.argv[3]) if len(sys.argv) > 3 else Path("/tmp/sf1")
    out.mkdir(parents=True, exist_ok=True)
    for name in list(OFFSETS) + list(SINGLE_COPY):
        t0 = time.perf_counter()
        rows = scale_table(src, out, name, n)
        print(f"{name}: {rows} rows in {time.perf_counter() - t0:.1f}s")


if __name__ == "__main__":
    main()
