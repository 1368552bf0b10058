#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 dmarcbench/selftest.py [--out FILE]

Runs each check once with a planted fault and once without, and shows
that the fault is caught:
  - dashboard with a wrong expected answer for one panel (forensic.1):
    every load must count that panel as failed, and the run as incorrect;
  - live_intake with one scheduled drop file withheld from the drop
    directory: the file must count as failed, and the run as incorrect.
Exits 0 only if every planted fault was caught and the clean runs are
correct.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SECONDS = 4


def run(workload, inject=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(SECONDS), "--trace", "0"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, {}
    ctx = next((json.loads(l)["context"] for l in lines if l.startswith('{"context"')), {})
    return json.loads(lines[-1]), ctx


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    a = ap.parse_args()
    report, ok = {}, True
    # dashboard: forensic panel 10 fails on every load in a clean run; the
    # planted answer must fail forensic.1 on every load as well
    clean, cctx = run("dashboard")
    faulty, fctx = run("dashboard", "wrong_answer")
    caught = (clean is not None and faulty is not None
              and clean["correct"] and clean["failed"] == int(cctx["loads"])
              and not faulty["correct"] and faulty["failed"] == 2 * int(fctx["loads"]))
    report["dashboard+wrong_answer"] = {"clean": clean, "injected": faulty,
                                        "loads": [cctx.get("loads"), fctx.get("loads")], "caught": caught}
    ok = ok and caught
    # live_intake: a clean run fails nothing; the withheld file must fail
    clean, _ = run("live_intake")
    faulty, _ = run("live_intake", "withhold_file")
    caught = (clean is not None and faulty is not None and clean["correct"] and clean["failed"] == 0
              and not faulty["correct"] and faulty["failed"] >= 1)
    report["live_intake+withhold_file"] = {"clean": clean, "injected": faulty, "caught": caught}
    ok = ok and caught
    for k, v in report.items():
        print(f"{k}: {'caught' if v['caught'] else 'NOT caught'}", file=sys.stderr)
    report["all_caught"] = ok
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
