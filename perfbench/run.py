#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see BENCHMARK.json) in a child process that drives the
program, samples the resident memory of that process and everything it
starts (JVM, Python workers), stops them all, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones plus
the tracing overhead against earlier untraced runs of the workload.

All files go under perfbench/.work in the checkout and are removed when
the run ends, except a small record of each run's result.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RECORDS = os.path.join(WORK, "records.jsonl")
DEADLINE_S = 170
# The end-to-end metric each workload's tracing overhead is read on.
HEADLINE = {
    "wordcount_stream": "batch_p50_ms",
    "catalog_batch": "mix_s",
}
PAGE = resource.getpagesize()


def session_memory(sid: int) -> tuple[int, dict[int, int]]:
    """Resident memory in bytes of the processes of session sid that
    hold data (the driver Python process, the JVM, the Python daemon and
    its workers), and the CPU ticks (user + system) so far of every
    process in the session, by pid.

    A JVM counts its RSS (reading its page map costs too much to sample);
    other processes count their proportional set size, so a forked
    Python worker's pages shared with its parent count once. Other
    children of the JVM are skipped: between fork and exec such a child
    shows the JVM's pages as its own."""
    procs, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2 :].split()
        if int(fields[3]) == sid:
            procs[int(name)] = (comm, int(fields[1]), int(fields[21]) * PAGE)
            ticks[int(name)] = int(fields[11]) + int(fields[12])
    total = 0
    for pid, (comm, ppid, rss) in procs.items():
        under_jvm = procs.get(ppid, ("",))[0] == "java"
        if comm == "java" and not under_jvm:
            total += rss
        elif comm.startswith("python") or not under_jvm:
            total += pss(pid)
    return total, ticks


def pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def stop_session(sid: int) -> None:
    """SIGKILL whatever is left of the session and wait until it is gone."""
    deadline = time.time() + 30
    while time.time() < deadline:
        _, pids = session_memory(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def run_worker(args, trace: int) -> dict:
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        PYTHONUNBUFFERED="1",
    )
    env.pop("OMP_NUM_THREADS", None)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable,
        os.path.join(HERE, "workloads.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={trace}",
        f"--cpus={cpus}",
        f"--work={work}",
        f"--out={out}",
    ]
    peak = 0
    ticks: dict[int, int] = {}  # pid -> CPU ticks when last sampled
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                t_end = time.time() + DEADLINE_S
                while proc.poll() is None and time.time() < t_end:
                    memory, now = session_memory(proc.pid)
                    peak = max(peak, memory)
                    ticks.update(now)
                    time.sleep(0.2)
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
                stop_session(proc.pid)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log_path, encoding="utf-8", errors="replace") as fh:
                tail = fh.read()[-4000:]
            raise RuntimeError(
                f"workload exited with code {proc.returncode}:\n{tail}"
            )
        with open(out, encoding="utf-8") as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["e2e"]["peak_rss_mb"] = peak / 1e6
    result["info"]["cpu_s"] = sum(ticks.values()) / os.sysconf("SC_CLK_TCK")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": trace,
        "e2e": result["e2e"],
    }
    with open(RECORDS, "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record) + "\n")
    return result


def untraced_median(workload: str, seconds: float, metric: str) -> float | None:
    if not os.path.exists(RECORDS):
        return None
    with open(RECORDS, encoding="utf-8") as fh:
        values = [
            r["e2e"][metric]
            for r in map(json.loads, fh)
            if r["workload"] == workload and r["trace"] == 0
            and r["seconds"] == seconds
        ]
    return statistics.median(values) if values else None


def main() -> int:
    # a SIGTERM unwinds through run_worker's finally, which stops the workload
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    os.makedirs(WORK, exist_ok=True)

    metric = HEADLINE[args.workload]
    if args.trace and untraced_median(args.workload, args.seconds, metric) is None:
        run_worker(args, 0)  # a baseline for the tracing overhead
    result = run_worker(args, args.trace)

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(
            os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"), "w",
            encoding="utf-8",
        ) as fh:
            json.dump(result["spans"], fh)
        base = untraced_median(args.workload, args.seconds, metric)
        layer = result["layer"]
        layer["trace.overhead_pct"] = 100.0 * (result["e2e"][metric] - base) / base
        wanted, values = spec["per_layer"], layer
    else:
        wanted, values = spec["end_to_end"], result["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if not args.trace and missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    info = result["info"]
    info["not_exercised"] = missing  # reported as 0: this workload has no such layer
    print(json.dumps({"info": info}), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
