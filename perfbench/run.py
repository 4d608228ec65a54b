#!/usr/bin/env python3
"""graft benchmark: run one workload once and print its metrics.

    python3 perfbench/run.py --workload barrier_chain --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the engine and
the benchmark from source (see build.py) into `$CARGO_TARGET_DIR`
(default `.bench_build`). Each run generates its input tables from the
seed (gen.py), starts one JVM with `local[<nproc>]`, and drives the
workload in a closed loop with one client: a pass starts only when the
previous one has finished. After a checked first pass and untimed
warm-up passes, a run times a fixed number of passes, enough to fill
`--seconds` at the workload's usual pass time. The workloads are
defined in workloads.json.

With `--trace 0` the last line carries the end-to-end metrics of
BENCHMARK.json; with `--trace 1` it carries the per-layer metrics, read
from a separate run whose traced passes alternate with untraced ones.
A per-layer metric of a layer that the workload measures (`measures` in
workloads.json) must come from the JVM, or the run is incorrect; the
others read 0.
The line before it stamps the run with the machine and the code.
Outputs are checked once per run, outside the timed passes: query
results against the DuckDB oracle, evolved schemas against their
targets, migrated row counts against the input.

`--smoke` runs every workload briefly at sf0.001 and narrow schemas and
checks that every metric named in BENCHMARK.json is emitted.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

RUN_LIMIT_S = 170  # a run, excluding the build, must end within this


class RunError(Exception):
    pass


def _jvm_heap():
    """Half the machine's memory, between 2 and 4 GB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return max(2, min(4, total // (2 << 30)))


def _commit(root, build_dir):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        with open(os.path.join(build_dir, "engine-classes", ".digest")) as fh:
            return "source-sha256:" + fh.read()[:16]


def _passes(seconds, pass_seconds, trace):
    """Timed passes in a run: enough to fill `seconds` at the workload's
    usual pass time, at least eight, so that the median is not moved by
    one slow pass on a shared host. The count does not depend on how
    fast this run goes, so two versions of the program do the same work.
    A traced run does two untraced-traced-traced-untraced blocks."""
    return 8 if trace else max(8, math.ceil(seconds / pass_seconds))


def _cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return None


def _measures(wl, metric):
    """Whether the workload exercises the layer of this per-layer metric."""
    return any(metric == e or metric.startswith(e + ".") for e in wl["measures"])


def run_one(root, bench, cfg, name, seed, seconds, trace, smoke=False):
    """Run one workload once; return (result line dict, stamp)."""
    wl = cfg["workloads"][name]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    tb = time.time()
    classpath = build.build(root, build_dir)
    t0 = time.time()
    load_start = os.getloadavg()[0]
    ticks_start = _cpu_ticks()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, "runs", f"{name}-{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    os.makedirs(tmp)
    sf = cfg["smoke"]["sf"] if smoke else wl["sf"]
    gen.generate(data, sf, seed)

    heap_gb = _jvm_heap()
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap_gb}g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8", *build.JVM_OPENS,
           "-cp", classpath, "graftbench.Main",
           "--kind", wl["kind"], "--seed", str(seed),
           "--passes", str(_passes(seconds, wl["pass_seconds"], trace)), "--warm-passes", str(wl["warm_passes"]),
           "--trace", str(trace), "--cores", str(cores), "--data", data, "--out", out,
           "--t0-ms", str(int(t0 * 1000))]
    if wl["kind"] == "query":
        cmd += ["--queries", ",".join(wl["queries"])]
    else:
        cmd += ["--widths", ",".join(map(str, cfg["smoke"]["widths"] if smoke else wl["widths"]))]
    log_dir = os.path.join(build_dir, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{name}-{seed}-t{trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            raise RunError(f"{name}: the JVM ran past {RUN_LIMIT_S} s; see {log_path}")
        finally:  # never leave the JVM behind, also when this process is stopped
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        raise RunError(f"{name}: the JVM exited with code {rc}; see {log_path}")
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)

    t_jvm = time.time()
    failures = list(res["failures"])
    checked = res["checked"]
    if wl["kind"] == "query":
        with open(os.path.join(out, "oracle.json")) as fh:
            sql = json.load(fh)
        failures += oracle.check(root, data, os.path.join(out, "dump"), sql, tmp)
    print(f"[graftbench] {name}: build {t0 - tb:.1f} s, JVM {t_jvm - t0:.1f} s, "
          f"oracle {time.time() - t_jvm:.1f} s", file=sys.stderr)
    metrics = {}
    for m in bench["per_layer" if trace else "end_to_end"]:
        v = res["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            if not trace or _measures(wl, m["name"]):
                failures.append(f"{m['name']}: not measured")
                continue
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if trace and os.path.exists(os.path.join(out, "spans.jsonl")):
        os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
        shutil.copy(os.path.join(out, "spans.jsonl"),
                    os.path.join(build_dir, "traces", f"{name}-{seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"[graftbench] FAIL {f}", file=sys.stderr)
    ticks_end = _cpu_ticks()
    steal = None
    if ticks_start and ticks_end and ticks_end[1] > ticks_start[1]:
        # CPU time the hypervisor gave to other guests: wall times stretch with it
        steal = (ticks_end[0] - ticks_start[0]) / (ticks_end[1] - ticks_start[1])
    stamp = {"workload": name, "seed": seed, "trace": trace, "sf": sf, "nproc": cores,
             "spark_cores": res["cores"], "max_heap_mb": res["max_heap_mb"],
             "load1_start": load_start, "load1_end": os.getloadavg()[0], "cpu_steal_share": steal,
             "commit": _commit(root, build_dir), "passes": res["passes"],
             "passes_dropped": res["passes_dropped"], "operations": res["operations"],
             "pass_walls_s": res["pass_walls_s"]}
    attempted = checked + res["operations"] + res["passes_dropped"]
    line = {"correct": not failures, "attempted": max(1, attempted), "failed": len(failures),
            "metrics": metrics}
    return line, stamp


def smoke(root, bench, cfg):
    """Run each workload briefly, untraced and traced; check the metric names.
    A metric the workload measures but the JVM did not emit already makes
    the run incorrect (see run_one)."""
    ok = True
    for name in cfg["workloads"]:
        for trace in (0, 1):
            line, _ = run_one(root, bench, cfg, name, 1, cfg["smoke"]["seconds"], trace, smoke=True)
            want = bench["per_layer" if trace else "end_to_end"]
            missing = [m["name"] for m in want
                       if m["name"] not in line["metrics"] or line["metrics"][m["name"]]["unit"] != m["unit"]]
            status = "ok" if line["correct"] and not missing else "FAIL"
            ok &= status == "ok"
            print(f"smoke {name} trace={trace}: {status} correct={line['correct']} "
                  f"metrics={len(line['metrics'])} missing={missing}")
    return 0 if ok else 1


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup in finally blocks
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(HERE, "workloads.json")) as fh:
            cfg = json.load(fh)
        if args.smoke:
            return smoke(root, bench, cfg)
        if args.workload not in cfg["workloads"]:
            ap.error(f"--workload must be one of {sorted(cfg['workloads'])}")
        line, stamp = run_one(root, bench, cfg, args.workload, args.seed, args.seconds, args.trace)
    except (OSError, build.BuildError, RunError) as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 2
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
