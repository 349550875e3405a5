"""Runs the benchmark several times per workload, each with another
seed, and prints for every end-to-end metric its median and the
distance between its quartiles as a share of the median, next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --runs 10 [--workload batch ...]

Each run's last line is kept in .bench_build/spread/<workload>.jsonl.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402


def main():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    a = ap.parse_args()
    out = build.OUT / "spread"
    out.mkdir(parents=True, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in a.workload or names:
        rows = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            r = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
            wall = time.monotonic() - t0
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {r.returncode}")
                ok = False
                continue
            res = json.loads(lines[-1])
            res["wall_s"] = wall
            rows.append(res)
            with open(out / f"{w}.jsonl", "a") as f:
                f.write(json.dumps(dict(res, seed=seed)) + "\n")
            print(f"{w} seed {seed}: {wall:.1f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
        if len(rows) < 4:
            continue
        print(f"{w}: mean run wall {sum(r['wall_s'] for r in rows) / len(rows):.1f} s")
        for k, b in bounds.items():
            vals = [r["metrics"][k]["value"] for r in rows]
            spread = stats.iqr_frac(vals)
            flag = "" if spread <= b / 3 else \
                ("  ABOVE BOUND/3" if spread <= b else "  ABOVE BOUND")
            if spread > b:
                ok = False
            print(f"  {k:18s} median {stats.median(vals):10.4f}  iqr/median {spread:6.3f}"
                  f"  bound {b}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
