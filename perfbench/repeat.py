"""Run one workload under several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload search --seeds 1-10 --seconds 12 \
        [--trace 0|1] [--out results.json]

For every metric: the median of the runs and the distance between the
first and third quartile (statistics.quantiles(n=4)) as a share of that
median — the figure the benchmark's bounds are judged against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for s in seeds(args.seeds):
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                            "--workload", args.workload, "--seed", str(s),
                            "--seconds", args.seconds, "--trace", args.trace],
                           capture_output=True, text=True)
        wall = time.time() - t
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last) if p.returncode == 0 else {}
        res.update({"seed": s, "wall_s": wall, "exit": p.returncode,
                    "notes": [ln for ln in p.stderr.splitlines()
                              if ln.startswith(("FAILED", "[perfbench] recall"))]})
        runs.append(res)
        print(json.dumps({"seed": s, "wall_s": round(wall, 1), "exit": p.returncode,
                          "correct": res.get("correct"), "failed": res.get("failed"),
                          **{k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}}),
              flush=True)
    summary = {}
    names = sorted({k for r in runs for k in r.get("metrics", {})})
    for k in names:
        vals = [r["metrics"][k]["value"] for r in runs if k in r.get("metrics", {})]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        summary[k] = {"median": med, "q1": q[0], "q3": q[2],
                      "spread": (q[2] - q[0]) / med if med else 0.0, "n": len(vals)}
        print(f"{k:40s} median {med:12.3f}  spread {summary[k]['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
