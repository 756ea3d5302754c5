#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload live-churn --seed 1 --seconds 10 --trace 0

`--mix prefix-only` runs live-churn with no l3vpn or ls_* traffic, to
show what the assumed traffic mix decides (perfbench/README.md).

Builds the program from source (perfbench/build.py), runs the workload in
one JVM (perfbench.Main), checks its outputs, prints the workload's
numbers by name with their units, then as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics, --trace 1 the per-layer ones (and writes the run's
spans to .bench_out/). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build    # noqa: E402
import metrics  # noqa: E402

ROOT = HERE.parent
JVM_TIMEOUT_S = 165
WORKLOADS = ("live-churn", "gates")
MIXES = ("all-topics", "prefix-only")   # perfbench.Gen.Mixes


def steal_ticks():
    """Field 8 of the aggregate cpu line of /proc/stat (steal)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mix", choices=MIXES, default=MIXES[0])
    a = ap.parse_args()

    try:
        jar, jars = build.build(ROOT)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    box = {"loadavg_pre": loadavg(), "steal_pre": steal_ticks(), "nproc": nproc, "seed": a.seed}
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_file = work / "raw.json"
    cmd = build.java_cmd(jar, jars, work) + [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--mix", a.mix,
        "--work", str(work), "--out", str(raw_file), "--cpus", str(nproc),
        "--data", str(HERE / "data" / "sf0.01"),
        "--expected", str(HERE / "gates_expected.tsv")]
    t0 = time.time()
    try:
        with open(work / "jvm.log", "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not raw_file.exists():
            tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
            print(f"benchmark JVM failed ({rc}):\n" + "\n".join(tail), file=sys.stderr)
            return 3
        box["steal_delta"] = steal_ticks() - box["steal_pre"]
        raw = json.loads(raw_file.read_text())
        e2e, named, failures, attempted, layers, spans, notes = metrics.compute(raw, bool(a.trace), box)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(failures.values())
    report = {"setup_s": (e2e["setup_s"], "s"), "peak_mem_mb": (e2e["peak_mem_mb"], "MB"),
              "failed_ops_ratio": (failed / max(1, attempted), "ratio"), **named}
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    run_name = f"{a.workload}-{a.mix}-{a.seed}"
    e2e_record = out_dir / f"e2e-{run_name}.json"
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} mix={a.mix} "
          f"wall={time.time() - t0:.1f}s box={json.dumps(box)}")
    for k, (v, unit) in report.items():
        print(f"#   {k} = {v if v is None else round(v, 4)} {unit}")
    for n in notes:
        print(f"#   {n}")
    if failed:
        print(f"#   failures: {json.dumps(failures)}")
    if a.trace:
        spans_file = out_dir / f"spans-{run_name}.jsonl"
        with open(spans_file, "w") as f:
            for s in spans.items:
                f.write(json.dumps(s) + "\n")
        print(f"#   spans: {spans_file.relative_to(ROOT)} ({len(spans.items)})")
        if e2e_record.exists():
            base = json.loads(e2e_record.read_text())
            for k, v in e2e.items():
                if base.get(k) and v is not None:
                    print(f"#   tracing overhead {k}: {100 * (v - base[k]) / base[k]:+.1f}% "
                          f"({base[k]:.4g} untraced -> {v:.4g} traced)")
        chosen = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        e2e_record.write_text(json.dumps(e2e))
        chosen = {k: {"value": e2e[k], "unit": u} for k, u in metrics.E2E_UNITS.items()}
    missing = [k for k, m in chosen.items() if m["value"] is None]
    correct = failed == 0 and not missing
    if missing:
        print(f"#   not measured: {missing}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: m for k, m in chosen.items() if m["value"] is not None}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
