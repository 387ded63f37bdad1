#!/usr/bin/env python3
"""Extraction benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload media_unique --seed 1 --seconds 8 --trace 0

Run from the repository root (any cwd works; paths are resolved from this
file). Each run starts fresh driver processes (``worker.py``) on
``local[nproc]`` through ``session.get_spark``, generates the workload's
tables from ``--seed`` (``gen.py``), runs the workload through the
program's public entry points, checks the outputs against the pandas
oracle, and prints, as its last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` is the measured run, event log and SpeedMeter off: two
warm-up extracts (the first is checked), then ``--seconds / EST_REP_S``
timed extracts to a noop sink, each over a fresh slice; docs/s and spans/s
are medians over those, ``setup_s`` the median over ``SETUPS`` fresh
processes. Metrics are the end-to-end ones in BENCHMARK.json. ``--trace 1``
is the traced run:
metrics are the per-layer ones, taken from outside the program (timed
calls, the SpeedMeter, the Spark event log and Spark-free kernel and host
timings). Earlier stdout lines carry the host
record and run details. Exits non-zero, without a result line, if the
program is missing or a run fails; exits 1 after the result line if any
output was wrong.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# docs per slice: one slice is one timed repetition
SLICE_DOCS = {"media_unique": 600, "text_dense": 2000}
EST_REP_S = 2.0  # a repetition's wall on a 4-CPU host: --seconds / this = repetitions
WARM_DOCS = 200
JOB_DOCS = 256
SETUPS = 2  # fresh processes per measured run whose set-up is timed
WORKER_TIMEOUT_S = 170


def host_record(cpus: list[int]) -> dict:
    import numpy
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ocr_suite_spark")
    for dp, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dp, f), ROOT).encode())
                with open(os.path.join(dp, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "nproc": os.cpu_count(),
        "affinity": cpus,
        "git_commit": commit,
        "source_sha256": h.hexdigest()[:16],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
    }


def slices_for(workload: str, trace: bool, seconds: float) -> list[int]:
    s = SLICE_DOCS[workload]
    if trace:  # see worker.role_traced for the layout
        return [WARM_DOCS, s, s, WARM_DOCS] + [s] * 4 + [JOB_DOCS]
    return [s, s] + [s] * max(3, math.ceil(seconds / EST_REP_S))  # 2 warm-up, then timed


def spawn(cfg: dict, work: str, name: str) -> dict:
    """Run one worker process; returns its result and peak tree RSS."""
    from tracing import RssSampler

    t_spawn = time.time()
    cfg = dict(cfg, out=f"{work}/{name}.json", t_spawn=t_spawn)
    cfg_path = f"{work}/{name}.cfg.json"
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = f"{work}/{name}.log"
    with open(log_path, "w") as log:
        # own process group, so the JVM and Python workers go with it
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            stdout=log, stderr=subprocess.STDOUT, cwd=work, start_new_session=True,
        )
        try:
            with RssSampler(proc.pid) as rss:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            _kill_group(proc)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(f"worker {name} failed ({code}):\n{tail}\n")
        raise SystemExit(1)
    with open(cfg["out"]) as f:
        res = json.load(f)
    res["peak_rss_mb"] = rss.peak_bytes / 2**20
    res["peak_rss_mb_by_group"] = {k: round(v / 2**20) for k, v in rss.peak_by_group.items()}
    res["wall_s"] = time.time() - t_spawn
    return res


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop whatever is left of a worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    t_start = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SLICE_DOCS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # SIGTERM unwinds like an error, so every worker group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "ocr_suite_spark", "__init__.py")):
        sys.stderr.write(f"ocr_suite_spark not found under {ROOT}: nothing to benchmark\n")
        return 2
    sys.path[:0] = [HERE, ROOT]  # spawned host-probe processes inherit sys.path

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    cpus = sorted(os.sched_getaffinity(0))
    host = host_record(cpus)
    base = {
        "root": ROOT,
        "work": work,
        "workload": args.workload,
        "seed": args.seed,
        "cores": len(cpus),
        "slices": slices_for(args.workload, bool(args.trace), args.seconds),
    }
    try:
        if args.trace:
            import hostprobe

            host["hw_control_ms_before"] = hostprobe.hw_control_ms(cpus)
            res = spawn(dict(base, role="traced"), work, "traced")
            host["hw_control_ms_after"] = hostprobe.hw_control_ms(cpus)
            metrics = layer_metrics(res, host)
            spans = res.pop("spans")
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            with open(os.path.join(HERE, "_out", f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(spans, f)
        else:
            res = spawn(dict(base, role="flagship"), work, "flagship")
            setups = [res["setup_s"]] + [
                spawn(dict(base, role="setup"), work, f"setup{i}")["setup_s"]
                for i in range(1, SETUPS)
            ]
            res["setups_s"] = setups
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "docs_per_s": (res["docs_per_s"], "1/s"),
                "spans_per_s": (res["spans_per_s"], "1/s"),
                "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != want:
        sys.stderr.write(f"metrics do not match BENCHMARK.json: {sorted(set(metrics) ^ want)}\n")
        return 3
    with open(os.path.join(HERE, "predictions.json")) as f:
        predictions = json.load(f)
    if args.trace and want - set(predictions):
        sys.stderr.write(f"per-layer metrics without a prediction: {sorted(want - set(predictions))}\n")
        return 3

    mismatch_frac = res["failed"] / res["attempted"]
    print(json.dumps({"host": host}))
    detail = {k: v for k, v in res.items() if k not in ("notes", "layers", "spans")}
    detail["run_s"] = time.time() - t_start
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    for k, (v, unit) in sorted(metrics.items()):
        pred = predictions.get(k)
        why = f"  -> {pred['moves']} {','.join(pred['workloads'])}" if pred else ""
        print(f"{args.workload} {k} = {v:.6g} {unit}{why}")
    print(f"{args.workload} mismatch_frac = {mismatch_frac:.6g} ({res['failed']}/{res['attempted']})")
    for note in res["notes"][:20]:
        print(f"MISMATCH: {note}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if res["failed"] == 0 else 1


LAYER_UNITS = (  # longest suffix first
    ("_per_match", "rows/match"),
    ("_per_doc", "bytes/doc"),
    ("_per_s", "1/s"),
    ("_bytes", "bytes"),
    ("_ratio", "ratio"),
    ("_frac", "ratio"),
    ("_util", "ratio"),
    ("_skew", "ratio"),
    ("_eff", "ratio"),
    ("_ms", "ms"),
    ("_s", "s"),
)


def unit_of(name: str) -> str:
    for suffix, unit in LAYER_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def layer_metrics(res: dict, host: dict) -> dict:
    """Per-layer metrics of a traced run, named as in BENCHMARK.json."""
    layers = dict(res["layers"])
    layers["session.start_s"] = res["start_s"]
    layers["session.warm_s"] = res["warm_s"]
    layers["hw_control.before_ms"] = host["hw_control_ms_before"]
    layers["hw_control.after_ms"] = host["hw_control_ms_after"]
    return {k: (v, unit_of(k)) for k, v in layers.items()}


if __name__ == "__main__":
    sys.exit(main())
