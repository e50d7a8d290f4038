"""The benchmark workloads, run in a child process by run.py.

    python3 perfbench/workloads.py --workload NAME --seed N --seconds S
        --trace 0|1 --work DIR --out RESULT.json

Each workload generates its inputs from the seed before set-up, drives
the program through its public entry points, checks the program's
outputs and writes one result record to --out. See perfbench/README.md
for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyspark  # noqa: E402

import inputs  # noqa: E402
from tracing import Tracer, event_log_totals  # noqa: E402

from lenses_topology_example_spark import catalog  # noqa: E402
from lenses_topology_example_spark.conf import ensure_runtime_confs  # noqa: E402
from lenses_topology_example_spark.plans.topology import (  # noqa: E402
    MetricsPublisher,
    topology_json,
)
from lenses_topology_example_spark.session import get_spark  # noqa: E402
from lenses_topology_example_spark.streaming.pipelines import (  # noqa: E402
    start_wordcount_to_memory,
    streaming_wordcount,
)
from tools.canon import canon_rows  # noqa: E402

DRIVER_HEAP = "2g"
# Batches that end within this many seconds of the first non-empty
# batch are warm-up and not measured.
WARMUP_S = 2.0
WORDCOUNT_QUEUE = 2  # backlog files visible to the source at any time
POLL_S = 0.02
# The flagship pipeline, a window operator, a memo user, the Python
# worker boundary and two bench outliers: table_profile (runs serially)
# and sink_parquet (wide run-to-run spread).
CATALOG_MIX = (
    "payments_pipeline",
    "session_count",
    "dedup_minhash",
    "asset_png_meta",
    "table_profile",
    "sink_parquet",
)
MIN_PASSES = 3
MIN_REPEATS = 5
STREAM_PHASES = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


def host_state() -> dict:
    """loadavg, cumulative CPU steal ticks and the time of a fixed
    Python loop, recorded as evidence of how busy the host was."""
    t0 = time.perf_counter()
    sum(i * i for i in range(300_000))
    probe_ms = (time.perf_counter() - t0) * 1000.0
    with open("/proc/loadavg", encoding="ascii") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat", encoding="ascii") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "loadavg": load,
        "cpu_ticks": sum(cpu),
        "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
        "cpu_probe_ms": probe_ms,
        "time": datetime.now().isoformat(timespec="seconds"),
    }


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Run:
    """State of one workload run: arguments, work directory, spans and
    the metrics collected so far."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.abspath(args.work)
        self.tracer = Tracer(os.path.basename(self.work), bool(args.trace))
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self, cpus: int, event_log: bool = False):
        """Start the program's session at local[cpus] and run its first
        job; the spans are the set-up layers."""
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.streaming.checkpointLocation": self.path("checkpoints"),
        }
        if event_log:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
            }
        tr = self.tracer
        with tr.span("session.get_spark") as s1:
            spark = get_spark(
                "perfbench", driver_memory=DRIVER_HEAP, extra_conf=conf
            )
        with tr.span("conf.ensure_runtime_confs") as s2:
            ensure_runtime_confs(spark)
        with tr.span("session.first_job") as s3:
            spark.range(1000).selectExpr("sum(id)").collect()
        if "session.get_spark_s" not in self.layer:
            self.layer["session.get_spark_s"] = s1["s"]
            self.layer["conf.ensure_runtime_confs_s"] = s2["s"]
            self.layer["session.first_job_s"] = s3["s"]
        return spark


# --- streaming helpers ----------------------------------------------------------


def end_ms(p: dict) -> float:
    """Wall-clock end of a micro-batch in epoch ms."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z")
    return ts.timestamp() * 1000.0 + p["durationMs"]["triggerExecution"]


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def measured(progress: list[dict], lo_ms: float, hi_ms: float) -> list[dict]:
    return [
        p
        for p in progress
        if p["numInputRows"] > 0 and lo_ms <= end_ms(p) <= hi_ms
    ]


def window_rate(progress: list[dict], window: list[dict]) -> float:
    """Input rows committed per second over the window: the slope of a
    least-squares line through (batch end, cumulative rows committed),
    starting at the batch before the window. A line through every
    commit is not swung by the one batch that straddles a window edge."""
    first = progress.index(window[0])
    points = progress[max(first - 1, 0) : first + len(window)]
    ends = np.array([end_ms(p) for p in points]) / 1000.0
    rows = np.cumsum([p["numInputRows"] for p in points])
    return float(np.polyfit(ends, rows, 1)[0])


def stream_metrics(run: Run, progress: list[dict], window: list[dict]) -> None:
    """The end-to-end and per-layer metrics both streams read from
    their progress reports."""
    if len(window) < 2:
        raise RuntimeError(f"only {len(window)} micro-batches measured")
    rows = sum(p["numInputRows"] for p in window)
    trig = [p["durationMs"]["triggerExecution"] for p in window]
    run.e2e["rows_per_s"] = window_rate(progress, window)
    run.e2e["batch_p50_ms"] = pct(trig, 50)
    run.e2e["batch_p90_ms"] = pct(trig, 90)
    run.e2e["mix_s"] = sum(trig) / rows * 1e6 / 1000.0
    run.info["measured_batches"] = len(window)
    lay = run.layer
    for phase in STREAM_PHASES:
        vals = [p["durationMs"].get(phase, 0) for p in window]
        key = "sources" if phase in ("latestOffset", "getBatch") else "streaming"
        lay[f"{key}.{phase}_ms"] = median(vals)
    lay["streaming.trigger_ms"] = median(trig)
    lay["streaming.rows_per_batch"] = median([p["numInputRows"] for p in window])
    states = [p["stateOperators"][0] for p in window if p.get("stateOperators")]
    if states:
        lay["state.rows_total"] = states[-1]["numRowsTotal"]
        lay["state.memory_mb"] = states[-1]["memoryUsedBytes"] / 1e6
        lay["state.update_ms"] = median([s["allUpdatesTimeMs"] for s in states])
        lay["state.commit_ms"] = median([s["commitTimeMs"] for s in states])


def publisher_metrics(run: Run, samples: list[dict], n_batches: int) -> None:
    ids = [s["batchId"] for s in samples]
    run.layer["topology.samples"] = len(samples)
    run.layer["topology.dup_samples"] = sum(
        1 for a, b in zip(ids, ids[1:]) if a == b
    )
    run.layer["topology.batch_coverage"] = len(set(ids)) / max(n_batches, 1)


def committed_batches(checkpoint: str) -> list[int]:
    return sorted(
        int(f) for f in os.listdir(os.path.join(checkpoint, "commits")) if f.isdigit()
    )


# --- wordcount_stream ----------------------------------------------------------------


def drain(run: Run, spark, backlog: list[str], tag: str) -> dict:
    """Drain backlog files through start_wordcount_to_memory, keeping
    WORDCOUNT_QUEUE files visible to the source, for the warm-up plus
    the measured window; then process what was released and stop."""
    tr = run.tracer
    src_dir = run.path(f"in_{tag}")
    os.makedirs(src_dir)
    released: list[float] = []

    def release() -> None:
        path = backlog[len(released)]
        os.rename(path, os.path.join(src_dir, os.path.basename(path)))
        released.append(time.time() * 1000.0)

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )
    for _ in range(WORDCOUNT_QUEUE):
        release()
    with tr.span(f"streaming.start_wordcount_to_memory.{tag}") as started:
        query = start_wordcount_to_memory(lines, f"wc_{tag}")
    with tr.span("topology.topology_json") as walk:
        topology_json(streaming_wordcount(lines), "wordcount")
    samples: list[dict] = []
    publisher = MetricsPublisher(query, samples.append).start()
    out = {"samples": samples, "started": started, "walk": walk}
    out["setup_end"] = time.perf_counter()
    lo = hi = None
    try:
        while True:
            last = query.lastProgress
            done = last["batchId"] + 1 if last else 0
            if hi is None and last:
                lo = end_ms(progress_of(query)[0]) + WARMUP_S * 1000.0
                hi = lo + run.args.seconds * 1000.0
            if hi is not None and time.time() * 1000.0 >= hi:
                break
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            while len(released) < min(done + WORDCOUNT_QUEUE, len(backlog)):
                release()
            if len(released) == len(backlog):
                run.info[f"backlog_exhausted_{tag}"] = True
                break
            time.sleep(POLL_S)
        query.processAllAvailable()
        if hi is None:
            raise RuntimeError("the stream committed no batch")
    finally:
        publisher.stop()
        query.stop()
    progress = progress_of(query)
    out.update(progress=progress, released=released)
    out["window"] = measured(progress, lo, hi)
    return out


def wordcount_stream(run: Run) -> None:
    n_files = int((WARMUP_S + run.args.seconds + 5) * 25_000 / inputs.LINES_PER_FILE)
    backlog = inputs.Backlog(run.args.seed, n_files, run.path("backlog"))
    t0 = time.perf_counter()
    spark = run.session(run.args.cpus)
    res = drain(run, spark, backlog.paths, "main")
    run.e2e["setup_s"] = res["setup_end"] - t0
    run.layer["topology.walk_ms"] = res["walk"]["s"] * 1000.0
    progress, window = res["progress"], res["window"]
    # the backlog is visible before the query starts, so batch 0 has data
    run.e2e["cold_pass_s"] = end_ms(progress[0]) / 1000.0 - res["started"]["start"]
    stream_metrics(run, progress, window)
    ck = run.path("checkpoints", "wc_main")
    read_by = files_read(ck)
    released = dict(zip((os.path.basename(p) for p in backlog.paths), res["released"]))
    lat = [end_ms(p) - released[read_by[p["batchId"]]] for p in window]
    run.e2e["latency_p50_ms"] = pct(lat, 50)
    run.e2e["latency_p90_ms"] = pct(lat, 90)
    committed = committed_batches(ck)
    publisher_metrics(run, res["samples"], len(committed))
    check_wordcount(run, spark, backlog, len(committed))
    if run.args.trace:
        # the same backlog again, drained at local[1]
        os.makedirs(run.path("backlog1"))
        again = []
        for p in backlog.paths:
            if not os.path.exists(p):
                p = os.path.join(run.path("in_main"), os.path.basename(p))
            again.append(shutil.copy2(p, run.path("backlog1")))
        spark.stop()
        spark = run.session(1)
        single = drain(run, spark, again, "single")
        run.layer["scale.wordcount_speedup_1to4"] = run.e2e["rows_per_s"] / window_rate(
            single["progress"], single["window"]
        )
    spark.stop()


def files_read(checkpoint: str) -> dict[int, str]:
    """batchId -> name of the file that batch read, from the file
    source's log in the checkpoint (one file per batch)."""
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):  # checksum files
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[entry["batchId"]] = os.path.basename(entry["path"])
    return out


def check_wordcount(run: Run, spark, backlog, n_files: int) -> None:
    """The last count the memory sink emitted for each word equals the
    generator's count over the files the committed batches read."""
    got = spark.sql(
        "SELECT word, max(count) AS n, count(*) AS updates FROM wc_main GROUP BY word"
    ).toPandas()
    want = backlog.expected_counts(n_files)
    have = dict(zip(got["word"], got["n"].astype(int)))
    words = set(want) | set(have)
    run.attempted = len(words)
    run.failed = sum(1 for w in words if want.get(w) != have.get(w))
    run.layer["sink.rows_emitted"] = int(got["updates"].sum())


# --- catalog_batch -------------------------------------------------------------------


def catalog_batch(run: Run) -> None:
    tr = run.tracer
    sf = run.path("sf0.01")
    rows = inputs.make_tables(run.args.seed, sf)
    qs, osql = catalog.queries(), catalog.oracle_sql()
    t0 = time.perf_counter()
    spark = run.session(run.args.cpus, event_log=bool(run.args.trace))
    run.e2e["setup_s"] = time.perf_counter() - t0
    sc = spark.sparkContext
    timings: dict[str, dict[str, tuple[float, float]]] = {}
    built: dict = {}
    bad_entries: set[str] = set()

    def run_pass(tag: str, order) -> float:
        got = timings.setdefault(tag, {})
        with tr.span(f"pass.{tag}") as whole:
            for name in order:
                sc.setJobGroup(f"{tag}:{name}", name)
                run.attempted += 1
                try:
                    with tr.span(f"operators.{name}") as build:
                        df = qs[name](spark, sf)
                    with tr.span(f"exec.{name}") as ex:
                        df.write.format("noop").mode("overwrite").save()
                    got[name] = (build["s"], ex["s"])
                    built[name] = df
                except Exception as e:  # noqa: BLE001 — count it, keep going
                    run.failed += 1
                    bad_entries.add(name)
                    run.info.setdefault("errors", []).append(f"{tag}:{name}: {e}"[:300])
        return whole["s"]

    run.e2e["cold_pass_s"] = run_pass("cold", CATALOG_MIX)
    rng = random.Random(run.args.seed)
    order = list(CATALOG_MIX)
    steady: list[float] = []
    while len(steady) < MIN_PASSES or sum(steady) < run.args.seconds:
        rng.shuffle(order)
        steady.append(run_pass(f"steady{len(steady)}", order))
    run.e2e["mix_s"] = median(steady)
    # then one query at a time: the flagship entry, repeated as long again
    repeats: list[float] = []
    while len(repeats) < MIN_REPEATS or sum(repeats) < run.args.seconds:
        repeats.append(run_pass(f"flagship{len(repeats)}", CATALOG_MIX[:1]))
    sc.setJobGroup("check", "check")
    run.e2e["rows_per_s"] = sum(rows.values()) / run.e2e["mix_s"]
    samples = [
        t for k, v in timings.items() if k.startswith("flagship") for t in v.values()
    ]
    run.e2e["latency_p50_ms"] = pct([b + e for b, e in samples], 50) * 1000.0
    run.e2e["latency_p90_ms"] = pct([b + e for b, e in samples], 90) * 1000.0
    run.e2e["batch_p50_ms"] = pct([e for _, e in samples], 50) * 1000.0
    run.e2e["batch_p90_ms"] = pct([e for _, e in samples], 90) * 1000.0

    run.info["entry_ms"] = {
        tag: {n: round((b + e) * 1000.0) for n, (b, e) in v.items()}
        for tag, v in timings.items()
        if not tag.startswith("flagship")
    }
    t_check = time.perf_counter()
    con = duckdb.connect()
    for table in rows:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{sf}/{table}.parquet'")
    for name in CATALOG_MIX:
        try:
            df = built[name] if name in built else qs[name](spark, sf)
            ok = canon_rows(df.toPandas()) == canon_rows(
                con.sql(osql[name]).df()
            )
        except Exception as e:  # noqa: BLE001 — count it, keep going
            ok = False
            run.info.setdefault("errors", []).append(f"check:{name}: {e}"[:300])
        if not ok and name not in bad_entries:
            bad_entries.add(name)
            run.failed += sum(1 for v in timings.values() if name in v)
    con.close()
    run.info["mismatched_entries"] = sorted(bad_entries)
    run.info["check_s"] = time.perf_counter() - t_check
    spark.stop()
    if run.args.trace:
        catalog_layers(run, timings)
        spark = run.session(1)
        sc = spark.sparkContext
        run_pass("single_warm", CATALOG_MIX)
        run_pass("single", CATALOG_MIX)
        for name in CATALOG_MIX:
            one = timings["single"].get(name, (0.0, 0.0))[1]
            many = timings["steady0"].get(name, (0.0, 0.0))[1]
            run.layer[f"exec.{name}.speedup_1to4"] = one / many if many else 0.0
        spark.stop()


def catalog_layers(run: Run, timings) -> None:
    totals = event_log_totals(run.path("eventlog"))
    cold, steady = timings["cold"], timings["steady0"]
    gc = spill = 0.0
    for name in CATALOG_MIX:
        t = totals.get(f"steady0:{name}", {})
        b, e = steady.get(name, (0.0, 0.0))
        run.layer[f"operators.{name}.build_ms"] = b * 1000.0
        run.layer[f"exec.{name}.wall_ms"] = e * 1000.0
        run.layer[f"exec.{name}.cpu_ms"] = t.get("cpu_ns", 0) / 1e6
        run.layer[f"exec.{name}.tasks"] = t.get("tasks", 0)
        run.layer[f"exec.{name}.shuffle_mb"] = t.get("shuffle_bytes", 0) / 1e6
        cb, ce = cold.get(name, (0.0, 0.0))
        run.layer[f"memo.{name}.cold_extra_ms"] = (cb + ce - b - e) * 1000.0
        gc += t.get("gc_ms", 0)
        spill += t.get("spill_bytes", 0)
    run.layer["exec.gc_ms"] = gc
    run.layer["exec.spill_mb"] = spill / 1e6


WORKLOADS = {
    "wordcount_stream": wordcount_stream,
    "catalog_batch": catalog_batch,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    run.info |= {"pyspark": pyspark.__version__, "cpus": args.cpus, "driver_heap": DRIVER_HEAP}
    start = run.info["host_start"] = host_state()
    WORKLOADS[args.workload](run)
    end = run.info["host_end"] = host_state()
    run.info["steal_pct"] = 100.0 * (end["steal_ticks"] - start["steal_ticks"]) / max(
        end["cpu_ticks"] - start["cpu_ticks"], 1
    )
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "e2e": run.e2e,
                "layer": run.layer,
                "attempted": run.attempted,
                "failed": run.failed,
                "info": run.info,
                "spans": run.tracer.spans,
            },
            fh,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
