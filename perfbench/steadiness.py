#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --workloads scan_decode,dedup_gate --seeds 1-10 \
        --seconds 20 --out set1.json

Runs perfbench/run.py once per (workload, seed), one run at a time, and
reports for each metric its median and its spread: the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share of
the median. Also reports each run's wall time and its displacement
telemetry (steal ticks, load average).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out")
    a = ap.parse_args()
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: FAILED (exit {p.returncode})", flush=True)
                runs.append({"seed": s, "failed": True, "wall_s": wall})
                continue
            res = json.loads(lines[-1])
            rep = next((json.loads(l.split(": ", 1)[1]) for l in lines
                        if l.startswith("perfbench report: ")), {})
            runs.append({"seed": s, "wall_s": round(wall, 1), "correct": res["correct"],
                         "failed": res["failed"], "attempted": res["attempted"],
                         "steal_ticks": rep.get("steal_ticks"),
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {s}: {wall:.0f}s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())), flush=True)
        ok = [r for r in runs if "metrics" in r]
        spread = {}
        for m in sorted(ok[0]["metrics"]) if ok else []:
            vals = [r["metrics"][m] for r in ok]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread[m] = {"median": med, "q1": q[0], "q3": q[2],
                         "spread": (q[2] - q[0]) / med if med else None}
        summary[w] = {"runs": runs, "spread": spread,
                      "wall_s_median": statistics.median(r["wall_s"] for r in runs)}
        for m, v in spread.items():
            print(f"  {w} {m}: median {v['median']:.4g} spread {v['spread']:.3f}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": a.seconds, "seeds": a.seeds, "workloads": summary}, f, indent=1)


if __name__ == "__main__":
    main()
