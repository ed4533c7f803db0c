"""Steadiness self-check: run the benchmark as two sets of runs of the same
code and report, per workload and end-to-end metric, whether the sets
agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--out runs.json]

Each set runs every workload in BENCHMARK.json once per seed, with its
command and ``run_seconds``. A metric is within its bound when, in both
sets, its spread (interquartile range over median) is at most the bound
and the second set's median is not worse than the first set's by more
than the bound. It agrees when, in addition, both spreads are within a
third of the bound. Exits 1 when any metric disagrees or any run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return {"workload": workload, "seed": seed, "wall_s": wall, "ok": False}
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2]) if len(lines) > 1 else {}
    return {"workload": workload, "seed": seed, "wall_s": wall,
            "ok": result["correct"], "result": result, "detail": detail}


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def judge(bench: dict, runs: list[list[dict]]) -> list[dict]:
    """One row per (workload, metric): medians and spreads per set."""
    rows = []
    for wl in [w["name"] for w in bench["workloads"]]:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r["result"]["metrics"][name]["value"] for r in rs
                     if r["workload"] == wl and r["ok"]] for rs in runs]
            if any(len(v) < 2 for v in sets):
                continue
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (meds[1] - meds[0]) / meds[0]
            within = all(s <= bound for s in spreads) and drift <= bound
            rows.append({"workload": wl, "metric": name, "bound": bound,
                         "medians": meds, "spreads": spreads, "drift": drift,
                         "within_bound": within,
                         "agree": within and all(s <= bound / 3 for s in spreads)})
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for k in range(SETS):
        rs = []
        for w in bench["workloads"]:
            for s in seeds(args.seeds):
                r = one_run(bench, w["name"], s)
                m = r.get("result", {}).get("metrics", {})
                print(f"set {k + 1} {w['name']} seed {s}: ok={r['ok']} "
                      f"wall={r['wall_s']:.1f}s "
                      + " ".join(f"{n}={v['value']:.3f}" for n, v in m.items()),
                      flush=True)
                rs.append(r)
        runs.append(rs)
    rows = judge(bench, runs)
    for r in rows:
        print(f"{r['workload']:<14} {r['metric']:<20} bound {r['bound']:<5} "
              f"medians {' '.join(f'{x:.4g}' for x in r['medians'])}  "
              f"spreads {' '.join(f'{x:.3f}' for x in r['spreads'])}  "
              f"drift {r['drift']:+.3f}  "
              f"{'within bound' if r['within_bound'] else 'OUTSIDE BOUND'}  "
              f"{'agree' if r['agree'] else 'DISAGREE'}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "verdict": rows}, f, indent=1)
    ok = all(r["ok"] for rs in runs for r in rs) and all(r["agree"] for r in rows)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
