#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload notebook_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner generates the workload's inputs
from the seed (``gen.py``), starts Spark through ``session.get_spark`` on
``local[<cores>]``, runs a cold pass (every distinct op once, each output
checked against DuckDB), then runs ops back to back until ``--seconds``
have passed, finishing the round of the workload's ops in progress.
The last line of standard output is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value": v, "unit": u}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
and engine counters and reports the per-layer metrics instead (see
``spans.py``). A run record (host notes, failures, tail percentile)
goes to standard error; a traced run also writes its spans under
``.perfbench_out/``.

Everything the run writes (inputs, lake, Spark local dirs, checkpoints,
temp files) lives in ``.perfbench_run/<workload>-<pid>/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["medallion_backfill", "notebook_analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's scale factor (the self-test uses 0.001)")
    p.add_argument("--corrupt", action="store_true",
                   help="damage the first checked output, to prove the check fails")
    return p.parse_args(argv)


def isolate(run_dir: Path) -> None:
    """Point every scratch location of this run at ``run_dir``, and let
    Python workers import the package (they do not inherit sys.path)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # A fixed-size driver heap: with a growable one, when G1 resizes it
    # moves peak RSS by 20% between identical runs.
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "2g")
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=str(run_dir / "spark"),
        SPARK_GRAFT_SCRATCH_DIR=str(run_dir / "scratch"),
        TMPDIR=str(tmp),
        SPARK_DRIVER_MEMORY=heap,
        PYSPARK_SUBMIT_ARGS=" ".join([
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{heap}'",
            f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    )
    (run_dir / "scratch").mkdir()
    tempfile.tempdir = None


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, then wait until every
    process started under this one (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while not all(map(ended, started)) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in started:
        if not ended(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's max RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024


def summarise(wl, timed: list[dict]) -> dict[str, float]:
    """End-to-end numbers over the timed ops. Throughput counts only time
    spent inside ops (checks are untimed). The tail is p90, interpolated:
    a run times 12-40 ops, too few for a percentile with ten samples
    beyond it to sit above the median, so the run record states how many
    lie beyond it."""
    lat = sorted(o["latency"] for o in timed)
    busy_s = sum(lat)
    tail = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
    return {
        "ops_per_min": 60.0 * len(lat) / busy_s,
        "rows_per_s": sum(wl.input_rows(o["op"]) for o in timed if o["ok"]) / busy_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "tail_beyond": sum(x > tail for x in lat),
    }


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid`` so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class Probe:
    """Traced-run counters around each op (outside its timed interval)."""

    def __init__(self, spark, tracer):
        from spans import Py4jCounter, SparkStats, StreamStats

        self.spark, self.tr = spark, tracer
        self.py4j = Py4jCounter(spark)
        self.stats = SparkStats(spark)
        self.streams = StreamStats(spark)
        self.collect_s = 0.0

    def start_op(self) -> None:
        self.first_exec = self.stats.count()
        self.cur: dict[str, float] = {}
        self.df = None

    def before_build(self) -> None:
        self.build_exec = self.stats.count()
        self.build_py4j = self.py4j.total()

    def after_build(self, q: str, df) -> None:
        self.cur["py4j_calls"] = self.py4j.total() - self.build_py4j
        self.cur["eager_sql_execs"] = self.stats.count() - self.build_exec
        self.df = df

    def end_op(self, wl, op) -> dict[str, float]:
        from spans import catalyst_phases

        t0 = time.perf_counter()
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001
            time.sleep(0.1)
        rec = dict(self.cur)
        rec.update({f"spark.{k}": v for k, v in self.stats.collect(self.first_exec).items()})
        if self.df is not None:
            phases = catalyst_phases(self.df)
            rec["spark.optimization_ms"] = phases["optimization"]
            rec["spark.planning_ms"] = phases["planning"]
        rec.update({f"streaming.{k}": v for k, v in self.streams.collect().items()})
        if wl.pipeline:
            rec.update({f"pipeline.{k}": v for k, v in wl.layer_counts(op).items()})
        self.collect_s += time.perf_counter() - t0
        return rec


def run(args: argparse.Namespace) -> dict:
    import workloads
    from spans import LAYERS, Tracer

    wl = workloads.WORKLOADS[args.workload]()
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    note: dict = {"workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
                  "loadavg_before": os.getloadavg()}
    spark = None
    try:
        isolate(run_dir)
        wl.generate(args.seed, run_dir, args.sf)
        tr = Tracer(bool(args.trace))
        with tr.span("session.start"):
            t0 = time.perf_counter()
            from streampro_assignment_etl_spark.session import get_spark

            spark = get_spark("perfbench")
            session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        probe = Probe(spark, tr) if args.trace else None

        failures: list[str] = []
        ops: list[dict] = []
        corrupt = args.corrupt

        def one(op, phase: str) -> dict:
            """Run one op; a ``cold`` op's result is collected and checked."""
            nonlocal corrupt
            tr.op = len(ops)
            if probe:
                probe.start_op()
            err = None
            t0 = time.perf_counter()
            with tr.span("bench.op"):
                try:
                    out = wl.run(spark, op, tr, phase == "cold", probe)
                except Exception as exc:  # noqa: BLE001 — counted, reported
                    err = f"{type(exc).__name__}: {exc}"
            lat = time.perf_counter() - t0
            rec = {"op": op, "phase": phase, "latency": lat}
            if probe:
                rec["layers"] = probe.end_op(wl, op)
            if err is None and (phase == "cold" or wl.pipeline):
                with tr.span("oracle.check"):
                    try:
                        wl.check(op, out, corrupt=corrupt)
                    except Exception as exc:  # noqa: BLE001
                        err = f"check {type(exc).__name__}: {exc}"
                corrupt = False
            rec["ok"] = err is None
            print(f"perfbench: {op} {phase} {lat:.3f}s ok={rec['ok']}",
                  file=sys.stderr, flush=True)
            if err:
                failures.append(f"{op}: {err[:400]}")
            ops.append(rec)
            return rec

        with tr.span("session.cold_pass"):
            cold_s = sum(one(op, "cold")["latency"] for op in wl.cold_ops())

        start = time.perf_counter()
        deadline = start + args.seconds
        steal0 = cpu_ticks()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        cpu0 = proc_cpu_s(jvm_pid)
        # Stop only between rounds, so every op kind runs equally often
        # (the notebook's queries differ fourfold in latency and in rows).
        for n, op in enumerate(wl.timed_ops(), 1):
            one(op, "timed")
            if time.perf_counter() >= deadline and n % wl.round_len == 0:
                break
        elapsed = time.perf_counter() - start
        steal1 = cpu_ticks()
        note["jvm_cpu_s_per_op"] = (proc_cpu_s(jvm_pid) - cpu0) / n
        note["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        t0 = time.perf_counter()
        spark.range(10**7).selectExpr("sum(id)").collect()
        note["anchor_range_sum_s"] = time.perf_counter() - t0
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [o for o in ops if o["phase"] == "timed"]
    n_failed = sum(not o["ok"] for o in ops)
    mix = summarise(wl, timed)
    note.update(loadavg_after=os.getloadavg(), timed_ops=len(timed), timed_s=elapsed,
                op_tail_percentile=90, op_tail_beyond=mix["tail_beyond"], failures=failures)
    if args.trace:
        note["trace_collect_s"] = probe.collect_s
    print(json.dumps(note), file=sys.stderr)

    if not args.trace:
        metrics = {
            "setup_s": (session_s + cold_s, "s"),
            "ops_per_min": (mix["ops_per_min"], "1/min"),
            "rows_per_s": (mix["rows_per_s"], "rows/s"),
            "op_p50_s": (mix["op_p50_s"], "s"),
            "op_tail_s": (mix["op_tail_s"], "s"),
            "ok_frac": (1.0 - n_failed / len(ops), "ratio"),
            "peak_rss_mb": (rss, "MB"),
        }
    else:
        metrics = layer_metrics(wl, tr, ops, session_s, cold_s, probe, LAYERS)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"spans-{args.workload}-{args.seed}.json").write_text(json.dumps(tr.spans))
    return {
        "correct": n_failed == 0,
        "attempted": len(ops),
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(wl, tr, ops, session_s, cold_s, probe, layers) -> dict:
    """Per-layer numbers, as means per timed op (counts and seconds)."""
    import workloads

    idx = [i for i, o in enumerate(ops) if o["phase"] == "timed"]
    n = len(idx)

    def mean(key):
        return sum(ops[i]["layers"].get(key, 0.0) for i in idx) / n

    def span_mean(name):
        return sum(tr.total(i, name) for i in idx) / n

    m = {
        "session.start_s": (session_s, "s"),
        "session.cold_pass_s": (cold_s, "s"),
        "queries.build_s": (span_mean("queries.build"), "s"),
        "queries.py4j_calls": (mean("py4j_calls"), "count"),
        "queries.eager_sql_execs": (mean("eager_sql_execs"), "count"),
    }
    for q in workloads.NOTEBOOK:
        mine = [i for i in idx if ops[i]["op"] == q]
        k = max(1, len(mine))
        m[f"queries.{q}.build_s"] = (sum(tr.total(i, "queries.build") for i in mine) / k, "s")
        m[f"queries.{q}.exec_s"] = (sum(tr.total(i, "spark.exec") for i in mine) / k, "s")
    for key, unit in (
        ("optimization_ms", "ms"), ("planning_ms", "ms"), ("exec_s", "s"),
        ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("scan_ms", "ms"),
        ("agg_build_ms", "ms"), ("python_bytes", "B"), ("scans", "count"),
        ("reused_exchanges", "count"), ("executions", "count"),
    ):
        m[f"spark.{key}"] = (mean(f"spark.{key}"), unit)
    m["pipeline.landing_to_raw_s"] = (span_mean("pipeline.landing_to_raw"), "s")
    m["pipeline.raw_to_trusted_s"] = (span_mean("pipeline.raw_to_trusted"), "s")
    m["pipeline.trusted_bytes_per_input_byte"] = (mean("pipeline.trusted_bytes_per_input_byte"), "ratio")
    m["pipeline.trusted_files_per_date"] = (mean("pipeline.trusted_files_per_date"), "count")
    for key, unit in (
        ("drain_s", "s"), ("batches", "count"), ("trigger_ms_p50", "ms"),
        ("add_batch_ms_p50", "ms"), ("planning_ms_p50", "ms"), ("commit_ms_p50", "ms"),
        ("state_commit_ms", "ms"), ("state_rows", "count"), ("state_mem_bytes", "B"),
    ):
        m[f"streaming.{key}"] = (mean(f"streaming.{key}"), unit)
    self_t = {layer: 0.0 for layer in layers}
    for i in idx:
        for layer, s in tr.self_times(i).items():
            if layer in self_t:
                self_t[layer] += s / n
    for layer in layers:
        m[f"{layer}.self_s"] = (self_t[layer], "s")
    lat = [ops[i]["latency"] for i in idx]
    m["trace.op_mean_s"] = (sum(lat) / n, "s")
    m["trace.op_p50_s"] = (statistics.median(lat), "s")
    m["trace.collect_s"] = (probe.collect_s / n, "s")
    return m


def main() -> int:
    args = parse_args()
    try:
        import streampro_assignment_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
