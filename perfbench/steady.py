#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py --runs 10 --seed0 100
    python3 perfbench/steady.py --runs 10 --seed0 200 --compare .bench_out/steady-A.json

Runs the command of BENCHMARK.json `--runs` times per workload, each run
with the next seed, and prints for every end-to-end metric the median, the
quartiles (statistics.quantiles, n=4), the spread (q3 - q1) / median and that
spread as a share of the metric's bound, then the same figures, ungated,
for the wall-time throughput and op times the runs print. The benchmark is
steady when every spread, setup_s's included, is within its metric's bound;
a spread above a third of the bound is flagged as having no margin. The summary is saved
under .bench_out; with --compare, the medians are also checked against an
earlier summary: a median may not be worse than the earlier one by more than
the bound. Exits 0 only when steady (and within bound of the earlier set).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# wall-time figures each run prints beside its metrics; their spread is
# shown for information and gates nothing
WALL = ("throughput", "op_p50_s", "op_tail_s")


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    printed = dict(l.split(" = ", 1) for l in lines[:-1] if " = " in l)
    steal = float(printed.get("host_steal_share", 0.0))
    walls = {k: float(printed[k].split()[0]) for k in WALL if k in printed}
    return json.loads(lines[-1]), wall, steal, walls


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated; default all")
    ap.add_argument("--compare", help="an earlier summary to compare medians with")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in bench["workloads"]])
    earlier = None
    if a.compare:
        with open(a.compare) as fh:
            earlier = json.load(fh)["workloads"]

    summary, ok, thin = {}, True, 0
    for w in names:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        info = {k: [] for k in WALL}
        walls, steals, attempted, failed, wrong = [], [], 0, 0, 0
        for i in range(a.runs):
            res, wall, steal, printed = run_once(bench, w, a.seed0 + i)
            for k, v in printed.items():
                info[k].append(v)
            walls.append(wall)
            steals.append(steal)
            attempted += res["attempted"]
            failed += res["failed"]
            wrong += not res["correct"]
            for k in values:
                values[k].append(res["metrics"][k]["value"])
        print(f"\n{w}: {a.runs} runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}, "
              f"run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, host steal share per run "
              f"{' '.join(f'{x:.3f}' for x in steals)}")
        print(f"  fail_ratio = {failed / attempted:g} ({failed}/{attempted} ops), "
              f"runs not correct = {wrong}")
        ok &= failed == 0 and wrong == 0
        rows = {}
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            share = spread / m["bound"]
            flag = "OVER BOUND" if share > 1 else "no margin" if share > 1 / 3 else "ok"
            line = (f"  {m['name']:<14} median {med:12.6g} {m['unit']:<7} "
                    f"q1 {q1:12.6g} q3 {q3:12.6g} spread {spread:7.2%} "
                    f"= {share:5.2f} x bound {m['bound']} {flag}")
            ok &= share <= 1
            thin += share > 1 / 3
            if earlier:
                before = earlier[w]["metrics"][m["name"]]["median"]
                worse = (med - before) / before
                if m["better"] == "higher":
                    worse = -worse
                line += f"; vs earlier median {worse:+.2%} worse"
                ok &= worse <= m["bound"]
            print(line)
            rows[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                               "spread": spread, "values": v}
        for k, v in info.items():
            if len(v) == a.runs:
                q1, med, q3 = statistics.quantiles(v, n=4)
                print(f"  {k:<14} median {med:12.6g} (wall time, not a metric) "
                      f"q1 {q1:12.6g} q3 {q3:12.6g} spread {(q3 - q1) / med:7.2%}")
                rows[k] = {"median": med, "q1": q1, "q3": q3,
                           "spread": (q3 - q1) / med, "values": v}
        summary[w] = {"metrics": rows, "run_wall_s": walls, "host_steal": steals,
                      "attempted": attempted, "failed": failed}

    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_out",
                        time.strftime("steady-%Y%m%dT%H%M%S.json", time.gmtime()))
    with open(path, "w") as fh:
        json.dump({"seed0": a.seed0, "runs": a.runs, "workloads": summary}, fh, indent=1)
    print(f"\nsummary written to {os.path.relpath(path, ROOT)}; "
          f"{'steady' if ok else 'NOT steady'}; "
          f"{thin} spread(s) above a third of their bound")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
