#!/usr/bin/env python3
"""Steadiness evidence: run a workload on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median,
with Q1 and Q3 from statistics.quantiles(values, n=4).

    python3 perfbench/steadiness.py --workload <name> --seeds 1-10 --seconds 8 [--out f.json]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.exit(f"seed {s} failed ({p.returncode}): {p.stderr[-2000:]}")
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append({"seed": s, "wall_s": round(time.time() - t0, 1), "result": result,
                     "named_metrics": report["named_metrics"],
                     "ops_timed": report["ops_timed"], "latencies_ms": report["latencies_ms"],
                     "setup_rounds_s": report["setup_rounds_s"]})
        print(s, runs[-1]["wall_s"], {k: round(v["value"], 3)
                                      for k, v in result["metrics"].items()}, flush=True)
    summary = {}
    for k in runs[0]["result"]["metrics"]:
        v = [r["result"]["metrics"][k]["value"] for r in runs]
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        summary[k] = {"median": med, "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / med}
        print(f"{k}: median {med:.4g} spread {summary[k]['spread']:.3f}")
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "seconds": a.seconds,
                                           "summary": summary, "runs": runs}, indent=1) + "\n")


if __name__ == "__main__":
    main()
