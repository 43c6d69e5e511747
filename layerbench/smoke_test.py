"""Smoke test of the benchmark: runs every workload at the tiny size, once
untraced and once traced, and asserts that each run passes its output
checks, emits every metric BENCHMARK.json names with its unit, prints the
workload's named end-to-end metrics, and (traced) reports every scope of
its workload with nonzero wall time plus the tracing overhead.

    python3 layerbench/smoke_test.py                 # about 5 minutes
    python3 layerbench/smoke_test.py --bench-counts  # also the 16,000-image
                                                     # graft.Bench count check

--bench-counts runs tile_pipeline at seed 0 over graft.Bench's 16,000
images, where the warp/stats/trend row counts must equal Bench's
pipeline_counts (65,675 / 3,315 / 3,315).
"""
import argparse
import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# scopes each workload must report when traced, and the report names its
# untraced run must print (README.md tables)
SCOPES = {
    "tile_pipeline": ["warp.analyze", "warp.tiles", "stack.stats", "stack.trend", "stencil.gauss"],
    "join_skew": ["join.salt", "join.pip", "knn"],
    "view_churn": ["catalog.commit", "catalog.merge", "catalog.delete",
                   "view.stats_refresh", "view.trend_refresh"],
}
NAMED = {
    "tile_pipeline": ["images_per_s images/s", "stack_call_s.p50 s", "stencil_call_s.p50 s"],
    "join_skew": ["points_per_s points/s", "pip_points_per_s points/s", "knn_queries_per_s queries/s"],
    "view_churn": ["versions_per_s versions/s", "commit_s.p50 s", "refresh_s.p50 s"],
}
COMMON = ["setup_s s", "live_heap_mb MB", "fail_share ratio"]


def run(workload, trace, extra=()):
    cmd = [sys.executable, str(ROOT / "layerbench" / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def check_result(result, expected):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in expected}, set(metrics) ^ {m["name"] for m in expected}
    for m in expected:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got["unit"], m["unit"])
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (m["name"], got)
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench-counts", action="store_true")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(SCOPES)
    for w in SCOPES:
        report, result = run(w, 0)
        metrics = check_result(result, spec["end_to_end"])
        assert all(v["value"] > 0 for v in metrics.values()), metrics
        for name in NAMED[w] + COMMON:
            n, unit = name.split()
            assert any(l.startswith(f"# {w} {n} = ") and f" {unit} " in l + " " for l in report), \
                (w, name, report)
        _, traced = run(w, 1)
        metrics = check_result(traced, spec["per_layer"])
        for s in SCOPES[w]:
            assert metrics[f"{s}.wall_s"]["value"] > 0 and metrics[f"{s}.jobs"]["value"] > 0, (w, s)
        assert (ROOT / ".bench_work" / "traces" / f"{w}-seed3.json").is_file()
        print(f"ok {w}", flush=True)
    if args.bench_counts:
        _, result = run("tile_pipeline", 0, ["--size", "full", "--images", "16000", "--seed", "0"])
        assert result["correct"] is True, result
        print("ok graft.Bench pipeline_counts", flush=True)


if __name__ == "__main__":
    main()
