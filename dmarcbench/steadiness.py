#!/usr/bin/env python3
"""Steadiness of the benchmark's end-to-end metrics.

    python3 dmarcbench/steadiness.py --out FILE [--sets 2] [--seeds 10]
        [--workloads backfill,dashboard,live_intake] [--seconds S]

Runs every workload once per seed, in sets of distinct seeds (set k uses
seeds k*100+1 .. k*100+N), and writes per set, workload and metric the ten
values, their median and quartiles (statistics.quantiles, n=4) and the
spread: the distance between the quartiles as a share of the median. With
two sets it also gives how far the second set's median moved from the
first's, as a share of the first. Each metric is checked against its bound
in BENCHMARK.json: the spread (except for setup_s) and the move must stay
within it. A run whose result line does not hold exactly the manifest's
end-to-end metrics, in their units, counts as a run without a result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def one_run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, None
    context = next((json.loads(l)["context"] for l in lines if l.startswith('{"context"')), {})
    context["wall_s"] = round(time.monotonic() - t0, 1)
    return json.loads(lines[-1]), context


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default="backfill,dashboard,live_intake")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    result = {"run_seconds": seconds, "sets": []}
    ok = True
    for k in range(a.sets):
        set_out = {"seeds": [k * 100 + i + 1 for i in range(a.seeds)], "workloads": {}}
        for w in a.workloads.split(","):
            runs, contexts, bad = [], [], 0
            for seed in set_out["seeds"]:
                res, ctx = one_run(w, seed, seconds)
                if res is not None and {n: v["unit"] for n, v in res["metrics"].items()} != units:
                    print(f"set {k + 1} {w} seed {seed}: metrics differ from the manifest", file=sys.stderr)
                    res = None
                if res is None or not res["correct"]:
                    bad += 1
                    print(f"set {k + 1} {w} seed {seed}: no correct result", file=sys.stderr)
                    continue
                runs.append(res)
                contexts.append(ctx)
                print(f"set {k + 1} {w} seed {seed}: " + ", ".join(
                    f"{n}={v['value']}" for n, v in res["metrics"].items()), file=sys.stderr)
            names = sorted({n for r in runs for n in r["metrics"]})
            metrics = {n: summary([r["metrics"][n]["value"] for r in runs if n in r["metrics"]])
                       for n in names}
            for n, s in metrics.items():
                if n != "setup_s" and s["spread"] is not None and s["spread"] > bounds[n]:
                    ok = False
            set_out["workloads"][w] = {
                "runs_without_correct_result": bad,
                "failed_share": sum(r["failed"] for r in runs) / max(1, sum(r["attempted"] for r in runs)),
                "steal_pct": [c.get("steal_pct") for c in contexts],
                "loadavg_1m": [c.get("loadavg_1m") for c in contexts],
                "wall_s": [c.get("wall_s") for c in contexts],
                "metrics": metrics}
            ok = ok and bad == 0
        result["sets"].append(set_out)
    if a.sets >= 2:
        first, second = result["sets"][0]["workloads"], result["sets"][1]["workloads"]
        moves = {}
        for w in first:
            for n, s in first[w]["metrics"].items():
                if n not in second.get(w, {}).get("metrics", {}):
                    continue
                m2 = second[w]["metrics"][n]["median"]
                better = next(m["better"] for m in bench["end_to_end"] if m["name"] == n)
                worse = (m2 - s["median"]) if better == "lower" else (s["median"] - m2)
                moves[f"{w}/{n}"] = worse / s["median"]
                ok = ok and moves[f"{w}/{n}"] <= bounds[n]
        result["second_median_worse_by"] = moves
    result["within_bounds"] = ok
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"within_bounds": ok}))


if __name__ == "__main__":
    main()
