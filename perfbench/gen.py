"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the same schemas and value domains as the repo's
testdata, so every registry builder and its DuckDB oracle run unchanged.
Table contents are fixed per scale factor; the seed permutes row order
(and, for the landing files, which day each customer delta lands on),
so the same ``(seed, sf)`` always gives byte-identical inputs and no
query can lean on physical order.

``documents`` and ``embeddings`` carry ~5% near-duplicates (a copy of an
earlier row with the last word replaced by ``dup``, or with a little
noise added), which is what the dedup and similarity operators find.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30
WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
US_PER_DAY = 86_400_000_000
DATA_SEED = 42

def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float, only: tuple[str, ...] = TABLES,
                days: int = EVENT_DAYS) -> dict[str, pa.Table]:
    """The tables named in ``only`` at scale factor ``sf``, rows in an
    order permuted by ``seed``, events spread evenly over ``days`` days.
    Contents depend on ``sf`` and ``days`` alone (each table draws from
    its own stream of ``DATA_SEED``), so runs with different seeds do
    the same work on differently ordered inputs."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(50, int(20_000 * sf))

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })

    def customer(rng):
        segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        })

    def supplier(rng):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        })

    def part(rng):
        adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "green"])
        noun = np.array(["ring", "bolt", "gizmo", "gear", "anvil", "nut", "pipe", "valve"])
        types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
        keys = np.arange(n_part)
        return pa.table({
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                  noun[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        })

    def orders(rng):
        prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
        })

    def lineitem(rng):
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        })

    def events(rng):
        offs = np.sort(rng.integers(0, days * US_PER_DAY, n_ev))
        return pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(EVENT_START + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })

    def documents(rng):
        texts: list[str] = []
        for i in range(n_doc):
            if i > 10 and rng.random() < 0.05:
                src = texts[int(rng.integers(0, i))].split(" ")
                texts.append(" ".join(src[:-1] + ["dup"]))
            else:
                texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
        langs = np.array(["en", "en", "es", "zh", "de", "fr"])
        return pa.table({
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, 6, n_doc)],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        })

    def embeddings(rng):
        vecs = rng.normal(size=(n_emb, 64))
        for i in range(11, n_emb):
            if rng.random() < 0.05:
                vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.01, size=64)
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        })

    makers = {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
    out = {}
    for i, name in enumerate(TABLES):
        if name in only:
            tab = makers[name](np.random.default_rng([DATA_SEED, i]))
            order = np.random.default_rng([seed, i]).permutation(tab.num_rows)
            out[name] = tab.take(order)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, out_dir / f"{name}.parquet")


def event_dates(days: int = EVENT_DAYS) -> list[str]:
    return [str(np.datetime64("2024-01-01") + i) for i in range(days)]


def write_landing(tables: dict[str, pa.Table], seed: int, landing: Path,
                  days: int = EVENT_DAYS) -> dict[str, dict]:
    """Split ``events`` by UTC day into ``events_<date>.jsonl`` files and
    ``customer`` into seeded ``customer_<date>.csv`` deltas, the landing
    layout the pipeline CLI's ``--backfill`` consumes. Returns per-date
    expected row counts: ``{date: {"events": n, "customer": n}}``."""
    landing.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    ev = tables["events"].sort_by("event_id")
    cust = tables["customer"]
    day = (ev["ts"].to_numpy().astype(np.int64) - EVENT_START.astype(np.int64)) // US_PER_DAY
    cust_day = rng.integers(0, days, cust.num_rows)
    rows = ev.to_pandas()
    rows["ts"] = rows["ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    expected: dict[str, dict] = {}
    for d, date in enumerate(event_dates(days)):
        rows[day == d].to_json(landing / f"events_{date}.jsonl", orient="records", lines=True)
        delta = cust.filter(pa.array(cust_day == d))
        pacsv.write_csv(delta, landing / f"customer_{date}.csv")
        expected[date] = {"events": int((day == d).sum()), "customer": delta.num_rows}
    return expected
