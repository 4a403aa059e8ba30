"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/steady.py --workload tier_build --seeds 1-10
    python3 perfbench/steady.py --workload corr_report --seeds 1,1,1,1,1 --trace 0,1

Every seed is run once per --trace value.  For each metric of the
untraced runs: the values, their median and the spread (Q3 - Q1) /
median with statistics.quantiles(n=4), against the metric's bound in
BENCHMARK.json.  It then reads back the run records that this
invocation appended to .perfbench/runs.jsonl and checks that every
count repeats exactly between runs of one seed, traced or not.  It
exits with code 1 if a run failed or a count differs.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def count_mismatches(workload: str, since: float) -> list[str]:
    """Counts that differ between runs of one seed recorded after
    `since` (a time.time() value)."""
    seen: dict[int, dict] = {}
    bad = []
    path = ROOT / ".perfbench" / "runs.jsonl"
    for line in path.read_text().splitlines() if path.exists() else []:
        rec = json.loads(line)
        if rec["workload"] != workload or rec["time"] < since:
            continue
        prev = seen.setdefault(rec["seed"], {})
        for k, v in rec["counts"].items():
            if prev.setdefault(k, v) != v:
                bad.append(f"seed {rec['seed']} {k}: {prev[k]} != {v}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", help="0, 1 or 0,1")
    args = ap.parse_args()
    contract = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = defaultdict(list)
    started, failed_runs = time.time(), 0
    for seed in seeds(args.seeds):
        for trace in args.trace.split(","):
            cmd = contract["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(contract["run_seconds"]), "--trace", trace]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            out = proc.stdout.strip()
            last = out.splitlines()[-1] if out else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            failed_runs += proc.returncode != 0 or not res.get("correct")
            print(f"seed {seed} trace {trace}: exit {proc.returncode}, "
                  f"{wall:.1f}s wall, correct={res.get('correct')} "
                  f"failed={res.get('failed')}", flush=True)
            if trace == "0":
                for name, m in res.get("metrics", {}).items():
                    values[name].append(m["value"])
    bounds = {m["name"]: m["bound"] for m in contract["end_to_end"]}
    for name, vals in values.items():
        if len(vals) < 2 or name not in bounds:
            continue
        s = spread(vals)
        print(f"{name}: median {statistics.median(vals):.6g} spread {s:.3f} "
              f"bound {bounds[name]} {'ok' if s < bounds[name] / 3 else 'WIDE'} "
              f"values {[round(v, 4) for v in vals]}")
    bad = count_mismatches(args.workload, started)
    print("counts repeat exactly" if not bad else "\n".join(bad))
    return 1 if bad or failed_runs else 0


if __name__ == "__main__":
    sys.exit(main())
