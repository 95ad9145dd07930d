#!/usr/bin/env python3
"""Run a workload several times with different seeds and report, per
metric, the median, the quartiles and the spread (interquartile distance
over the median).

    python3 perfbench/repeat.py --workload etl_read --runs 10 --seconds 15

Run from the repository root. `--out FILE` also writes the per-run values
and the summary as JSON.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        runs.append({"seed": seed, "exit": p.returncode, **res})
        print("seed %d exit %d correct %s" % (seed, p.returncode, res.get("correct")),
              file=sys.stderr)
    ok = [r for r in runs if r.get("correct")]
    summary = {}
    for name in sorted(ok[0]["metrics"]) if ok else []:
        vals = [r["metrics"][name]["value"] for r in ok]
        q1, q2, q3 = stats.quartiles(vals) if len(vals) > 1 else (vals[0],) * 3
        summary[name] = {"median": q2, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / q2 if q2 else None,
                         "unit": ok[0]["metrics"][name]["unit"]}
        print("%-22s median %12.4f  q1 %12.4f  q3 %12.4f  spread %s" % (
            name, q2, q1, q3,
            "%.4f" % summary[name]["spread"] if q2 else "n/a"))
    print("runs %d, correct %d" % (len(runs), len(ok)))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
