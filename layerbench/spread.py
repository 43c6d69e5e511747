"""Run-to-run spread of the end-to-end metrics: runs each workload once per
seed, then prints, per metric, the median and the distance between the
first and third quartile as a share of the median, next to the metric's
bound from BENCHMARK.json (the steadiness rule: spread below the bound,
aim for a third of it; setup_s is exempt).

    python3 layerbench/spread.py --workloads join_skew --seeds 1-5
    python3 layerbench/spread.py --seeds 11-20 --out runs.jsonl
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="inclusive range a-b")
    ap.add_argument("--out", help="append each run's result line to this JSONL file")
    args = ap.parse_args()
    lo, hi = map(int, args.seeds.split("-"))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    failed = False
    for w in args.workloads.split(","):
        values = {}
        for seed in range(lo, hi + 1):
            cmd = [sys.executable, str(ROOT / "layerbench" / "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                failed = True
                continue
            lines = p.stdout.strip().splitlines()
            line = lines[-1]
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "wall_s": round(wall, 1),
                                        "report": lines[:-1], "result": json.loads(line),
                                        "log": [l for l in p.stderr.splitlines()
                                                if l.startswith("[layerbench]")]}) + "\n")
            for k, m in json.loads(line)["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            print(f"{w:14s} {k:14s} median {med:12.5g}  spread {spread:6.3f}  "
                  f"bound {bounds.get(k, float('nan')):5.2f}  n={len(vs)}", flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
