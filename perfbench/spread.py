#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload NAME [--seeds 1-10] [--trace 0]

Runs `perfbench/run.py` once per seed with BENCHMARK.json's run_seconds,
then prints, per metric, the median and the distance between the first
and third quartiles (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound. Results go to
.bench_out/spread-<workload>-trace<t>.json as well.
"""
import argparse
import json
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.Popen(bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            out, err = proc.communicate()
        finally:
            if proc.poll() is None:  # stopped: let the runner stop its JVM
                proc.terminate()
                proc.wait()
        wall = time.time() - t0
        if proc.returncode != 0:
            sys.stderr.write(err[-3000:])
            sys.exit(f"seed {seed}: exit {proc.returncode}")
        res = json.loads(out.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": round(wall, 1), "result": res})
        vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
        print(f"seed {seed}: {wall:5.1f} s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
    out = ROOT / ".bench_out" / f"spread-{args.workload}-trace{args.trace}.json"
    out.write_text(json.dumps(runs, indent=1) + "\n")
    print(f"\n{'metric':36} {'median':>12} {'iqr/median':>10} {'bound':>6}")
    for name in sorted(runs[0]["result"]["metrics"]):
        vs = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        share = (q[2] - q[0]) / med if med else float("nan")
        print(f"{name:36} {med:12.4f} {share:10.4f} {str(bounds.get(name)):>6}")
    print(f"\nwall per run: median {statistics.median(r['wall_s'] for r in runs):.1f} s")


if __name__ == "__main__":
    main()
