#!/usr/bin/env python3
"""Execution-position drift analysis over bench artifacts (r16 task 1).

Usage: python3 tools/drift_analysis.py [--out DRIFT.json] <ref.jsonl> \
           <run.jsonl-or-stdout-log>...

For each run, prints the median per-key counted-seconds ratio vs the
reference, bucketed by the RUN's own execution-order decile. A slow
first-decile that decays to ~1.0 regardless of WHICH keys run first is
the fingerprint of an early-sweep environment/JIT phase rather than a
per-key code regression. To tell them apart, time the keys in reverse
name order with `runMain graft.Probe time <reversed key list> <sfDir> 1`
(recipe in BASELINE.md) and see whether the premium moves to the keys
that now run first. Older reversed Bench sweeps carry a `reversed` line,
which this tool reports as `order: reversed`.

With --out, also writes the analysis as a JSON artifact (the per-round
DRIFT_rNN.json contract, r16 verdict task 5): one record per run with
per-decile median ratios plus the settled-region (deciles 3-10) sum and
median, so the next round reads comparability from an artifact instead
of re-deriving it.

Robustness contract (ADVICE r16): a truncated/crashed sweep log — no
total line, no retimed/order line, or no queries line — is SKIPPED with
a message rather than crashing, and all ratios are restricted to keys
present in both the run and the reference (key sets differ across
rounds as operators are added).
"""
import json
import statistics
import sys


def load(path):
    q = c = o = t = None
    rev = False
    for ln in open(path, encoding="utf-8", errors="replace"):
        ln = ln.strip()
        if not ln.startswith("{"):
            continue
        try:
            d = json.loads(ln)
        except json.JSONDecodeError:
            continue
        m = d.get("metric")
        if m == "queries":
            q = d["queries"]
        elif m == "cpu":
            c = d["cpu"]
        elif m == "retimed":
            o = d.get("order")
        elif m == "reversed":
            rev = True
        elif m == "total":
            t = d
    return q, c, o, rev, t


def analyze(path, q, o, rev, t, qr):
    """Per-decile + settled-region ratios for one run vs the reference
    key->seconds map qr, over the SHARED key set only."""
    ks = sorted((k for k in q if k in qr and k in o), key=lambda k: o[k])
    n = len(ks)
    if n == 0:
        return None
    decs = []
    for d in range(10):
        seg = ks[d * n // 10:(d + 1) * n // 10]
        decs.append(round(statistics.median(
            q[k] / max(qr[k], 0.01) for k in seg), 2) if seg else None)
    settled = ks[2 * n // 10:]
    ratio = sum(q[k] for k in settled) / max(sum(qr[k] for k in settled), 1e-9)
    med = statistics.median(q[k] / max(qr[k], 0.01) for k in settled)
    return {
        "run": path,
        "order": "reversed" if rev else "forward",
        "total_ok": t.get("total_ok"),
        "calibration_sec": t.get("calibration_sec"),
        "calibration_end_sec": t.get("calibration_end_sec"),
        "shared_keys": n,
        "decile_median_ratio": decs,
        "settled_sum_ratio": round(ratio, 3),
        "settled_median_ratio": round(med, 3),
    }


def main():
    args = sys.argv[1:]
    out = None
    if args and args[0] == "--out":
        out = args[1]
        args = args[2:]
    if len(args) < 2:
        sys.exit("usage: drift_analysis.py [--out DRIFT.json] <ref.jsonl> <run.jsonl>...")
    ref_path = args[0]
    qr, _, _, _, tr = load(ref_path)
    if qr is None:
        sys.exit(f"reference {ref_path}: no queries line — cannot analyze")
    print(f"reference: {ref_path} total_ok="
          f"{tr.get('total_ok') if tr else '-'}")
    records = []
    for path in args[1:]:
        q, c, o, rev, t = load(path)
        missing = [name for name, v in
                   (("queries", q), ("order", o), ("total", t)) if v is None]
        if missing:
            print(f"\n{path}: SKIPPED — missing {'/'.join(missing)} line(s) "
                  "(truncated or crashed sweep?)")
            continue
        rec = analyze(path, q, o, rev, t, qr)
        if rec is None:
            print(f"\n{path}: SKIPPED — no keys shared with the reference")
            continue
        records.append(rec)
        print(f"\n{path} ({rec['order']}) total_ok={rec['total_ok']} "
              f"calib {rec['calibration_sec']} -> "
              f"{rec['calibration_end_sec'] if rec['calibration_end_sec'] is not None else '-'}")
        print(f"  per-execution-decile median ratio vs ref "
              f"({rec['shared_keys']} shared keys): {rec['decile_median_ratio']}")
        print(f"  settled-region (deciles 3-10): sum ratio "
              f"{rec['settled_sum_ratio']}, median per-key ratio "
              f"{rec['settled_median_ratio']}")
    if out is not None:
        with open(out, "w", encoding="utf-8") as f:
            json.dump({"reference": ref_path,
                       "reference_total_ok": tr.get("total_ok") if tr else None,
                       "runs": records}, f, indent=1)
        print(f"\nwrote {out} ({len(records)} run(s))")


if __name__ == "__main__":
    main()
