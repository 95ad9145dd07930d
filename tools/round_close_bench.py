#!/usr/bin/env python3
"""One-command round-close bench sweep + drift artifact (VERDICT r16 task 5).

Usage: python3 tools/round_close_bench.py <round> <ref.jsonl> [sfdir]

Runs the full graft.Bench sweep at sfdir (default /root/testdata/sf0.1)
via sbt, then immediately runs tools/drift_analysis.py on the sweep's
BENCH_LOCAL_LAST.jsonl against <ref.jsonl> (the previous round's official
full per-key artifact) and writes DRIFT_r<round>.json — the drift readout
is produced by the SAME command as the sweep, so a round can no longer
close with a bench artifact but no comparability record. The next judge
reads settled-region ratios from DRIFT_rNN.json instead of re-deriving
them (BASELINE.md "Round-16 amendment" documents why the settled region,
not raw totals, is the honest cross-round comparable).

The sweep overwrites BENCH_LOCAL_LAST.jsonl, so <ref.jsonl> must not be
that file: compared with itself, every ratio reads 1.0 and the drift
record says nothing. Snapshot the previous round's sweep first —
  cp BENCH_LOCAL_LAST.jsonl bench_r<round-1>_official.jsonl
— and pass the copy. A reference that resolves to BENCH_LOCAL_LAST.jsonl
is refused before the sweep starts.

ArtifactContractSpec pins the presence and shape of the current round's
DRIFT file once the first sweep of the round has run, and pins the
refusal above.
"""
import os
import subprocess
import sys

LAST = "BENCH_LOCAL_LAST.jsonl"


def main() -> int:
    if len(sys.argv) < 3:
        sys.exit("usage: round_close_bench.py <round> <ref.jsonl> [sfdir]")
    rnd = int(sys.argv[1])
    ref = sys.argv[2]
    sfdir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    if not os.path.exists(ref):
        sys.exit(f"reference artifact {ref} missing")
    if os.path.exists(LAST) and os.path.samefile(ref, LAST):
        sys.exit(f"reference {ref} resolves to {LAST}, which the sweep "
                 f"overwrites; copy it to bench_r{rnd - 1}_official.jsonl "
                 "first and pass the copy")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir)
    print(f"[round_close] full bench sweep at {sfdir} ...", flush=True)
    rc = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"], env=env).returncode
    if rc != 0:
        sys.exit(f"bench sweep failed (exit {rc}); no drift artifact written")
    rc = subprocess.run(
        ["python3", "tools/drift_analysis.py", "--out", f"DRIFT_r{rnd}.json",
         ref, LAST]).returncode
    if rc != 0:
        sys.exit(f"drift analysis failed (exit {rc})")
    print(f"[round_close] wrote DRIFT_r{rnd}.json (ref: {ref})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
