#!/usr/bin/env python3
"""Layered sketch benchmark: one command, three workloads, output checks.

    python3 perfbench/run.py --workload pages_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics (``docs_per_s``, ``setup_s``); ``--trace 1`` prints the per-layer
metrics and writes span tables under ``.perfbench/results``. The last
line of standard output is the result as one JSON object. See README.md
in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
PAGES = 100_000           # N: pages per seed
MIN_PASSES = 3
WARMUP_PASSES = 2         # untimed passes at the end of set-up
TRACE_PASSES = 2          # traced passes of the chosen workload
PHASE_SECONDS = 0.5
# phase-probe rate (iterations/s) of one core of the 4-core VM the bounds
# were set on, in its fast phase; phase_factor = reference / measured rate
PHASE_REFERENCE = 11000.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("pages_ingest", "seen_before_probe", "host_rollup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=PAGES,
                    help="pages per seed (the smoke test uses a tiny N)")
    ap.add_argument("--sabotage", action="store_true",
                    help="probe with a foreign hash seed; checks must fail")
    return ap.parse_args(argv)


def phase_probe(seconds: float = PHASE_SECONDS) -> float:
    """Iterations/s of a single-process hash-mix + scatter loop with the
    sketch kernels' instruction mix (after ``measure_hw_ceiling`` in
    scripts/bench_scaling.py). Read against PHASE_REFERENCE it separates
    this VM's memory-phase swings from code regressions."""
    import numpy as np
    x = np.arange(1 << 14, dtype=np.uint64)
    state = np.zeros(1 << 16, dtype=np.int64)
    iters, stop = 0, time.perf_counter() + seconds
    t0 = time.perf_counter()
    with np.errstate(over="ignore"):
        while time.perf_counter() < stop:
            x = (x ^ (x >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
            x = (x ^ (x >> np.uint64(29))) * np.uint64(0xC4CEB9FE1A85EC53)
            np.add.at(state, (x & np.uint64((1 << 16) - 1)).astype(np.int64), 1)
            iters += 1
    return iters / (time.perf_counter() - t0)


def _mem_gb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1 << 20)
    return 8


def pin_env(work: str, event_dir: str | None) -> dict:
    """Environment for the session and its Python workers, set here so
    the library's defaults (32 cores, 48g driver) never apply."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4, max(1, _mem_gb() // 4))}g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM the launch starts: no perf-data file in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    submit = []
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   f"--conf spark.eventLog.dir=file://{event_dir}"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.environ.update(env)
    return {"cores": cores, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


def source_revision() -> dict:
    """git revision when the repository root is a git work tree (the
    benchmark's checkout may not be), and a hash of every Python source
    file of the library and the benchmark."""
    import hashlib
    git = None
    try:
        proc = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel",
                               "HEAD"], capture_output=True, text=True, timeout=10)
        lines = proc.stdout.split()
        if proc.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            git = lines[1]
    except OSError:
        pass
    h = hashlib.sha256()
    for top in ("bloom_filters_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    return {"revision": git, "source_sha": h.hexdigest()[:16]}


def _proc_stat(pid: int):
    """→ (state, ppid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1])


def _descendants(pid: int) -> set:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                children.setdefault(st[1], []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop Spark, then end the JVM and wait until it and every Python
    worker it started have exited."""
    from pyspark import SparkContext
    started = _descendants(os.getpid())
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()          # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in started
                 if (_proc_stat(p) or ("Z",))[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            return
        time.sleep(0.1)


def summarize(passes, docs: int) -> dict:
    ok = [w for w, f in passes if not f] or [w for w, _ in passes]
    q = statistics.quantiles(ok, n=4) if len(ok) > 1 else [ok[0]] * 3
    return {"docs_per_s": docs / statistics.median(ok), "passes": len(passes),
            "ok_passes": sum(1 for _, f in passes if not f),
            "wall_q1_s": q[0], "wall_median_s": q[1], "wall_q3_s": q[2],
            "pass_walls_s": [round(w, 4) for w, _ in passes],
            "failed_checks": sorted({c for _, f in passes for c in f})}


def untraced_reference(args, source_sha: str) -> float:
    """docs_per_s of the same workload, seed and N untraced: the base for
    the tracing overhead. Taken from this checkout's earlier correct
    ``--trace 0`` result of the same sources when there is one, else from
    an untraced child run made now."""
    try:
        with open(_result_stem(args.workload, args.seed, 0) + ".json") as fh:
            prev = json.load(fh)
        ctx = prev["context"]
        if (ctx["pages"] == args.pages and ctx["source_sha"] == source_sha
                and not ctx["failed_checks"]):
            return prev["metrics"]["docs_per_s"]["value"]
    except (OSError, KeyError, ValueError):
        pass
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds", "0",
           "--trace", "0", "--pages", str(args.pages)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError("untraced reference run failed:\n" + proc.stderr[-2000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])[
        "metrics"]["docs_per_s"]["value"]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bloom_filters_spark")):
        print(f"perfbench: no bloom_filters_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    phase_rate = phase_probe()
    rev = source_revision()
    untraced_dps = (untraced_reference(args, rev["source_sha"]) if args.trace
                    else None)

    work = os.path.join(OUT, f"run-{os.getpid()}")
    event_dir = os.path.join(work, "events") if args.trace else None
    ctx = pin_env(work, event_dir)
    try:
        ctx.update(**rev, phase_rate=phase_rate,
                   phase_factor=PHASE_REFERENCE / phase_rate)
        return run(args, work, event_dir, ctx, untraced_dps)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, event_dir, ctx, untraced_dps) -> int:
    from bloom_filters_spark.session import get_spark
    from tracing import Tracer, parse_event_log
    from fixture import Fixture
    from workloads import WORKLOADS, set_up, timed_passes
    import traced

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        fx = Fixture(spark, args.pages, args.seed, work, tracer)
        wl = WORKLOADS[args.workload](fx, tracer, sabotage=args.sabotage)
        warmups = set_up(wl, WARMUP_PASSES)
        setup_s = time.perf_counter() - t0
        if args.trace:
            raw = traced.collect(spark, fx, wl, tracer, TRACE_PASSES)
            passes = raw["passes"]
        else:
            passes = timed_passes(wl, args.seconds, MIN_PASSES)
    finally:
        stop_session(spark)

    context = {
        "workload": args.workload, "seed": args.seed, "pages": args.pages,
        "trace": args.trace, **ctx, "input_partitions": fx.input_partitions,
        "session_start_s": session_s, "stage_s": fx.stage_s,
        "setup_s": setup_s,
    }
    tables = None
    if args.trace:
        metrics, tables = traced.metrics(
            raw, tracer.spans, parse_event_log(event_dir), wl.name, session_s,
            fx.n, fx.input_partitions, ctx["phase_factor"], untraced_dps)
    else:
        context.update(summarize(passes, fx.n))
        metrics = {
            "docs_per_s": {"value": context["docs_per_s"], "unit": "docs/s"},
            "setup_s": {"value": setup_s, "unit": "s"}}
    passes = warmups + passes
    failed = sum(1 for _, f in passes if f)
    context["failed_checks"] = sorted({c for _, f in passes for c in f})
    write_result(args, context, metrics, tables)
    print("# context " + json.dumps(context, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))
    return 0


def _result_stem(workload: str, seed: int, trace: int) -> str:
    return os.path.join(OUT, "results", f"{workload}-seed{seed}-trace{trace}")


def write_result(args, context, metrics, tables) -> None:
    """Keep the run's context, metrics and span tables under
    .perfbench/results, one file per (workload, seed, trace)."""
    from tracing import format_table
    stem = _result_stem(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(stem), exist_ok=True)
    with open(stem + ".json", "w") as fh:
        json.dump({"context": context, "metrics": metrics, "tables": tables},
                  fh, indent=1, default=str)
    if tables:
        with open(stem + ".txt", "w") as fh:
            fh.write("tracing overhead {:+.1f}% ({:.0f} docs/s traced, {:.0f} "
                     "untraced)\n\n".format(
                         *(metrics[k]["value"] for k in (
                             "trace.overhead_pct", "trace.docs_per_s",
                             "trace.untraced_docs_per_s"))))
            for name, rows in tables.items():
                fh.write(f"== {name}\n{format_table(rows)}\n\n")


if __name__ == "__main__":
    sys.exit(main())
