#!/usr/bin/env python3
"""Cross-check the pinned row counts against a Bench sweep artifact.

    python3 perfbench/crosscheck.py [BENCH_LOCAL_LAST.jsonl]

Reads the `rows` line of the sweep (one JSON object per line) and reports
every pinned key whose row count differs. Exit code 1 on any difference.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    sweep = sys.argv[1] if len(sys.argv) > 1 else "BENCH_LOCAL_LAST.jsonl"
    rows = {}
    with open(sweep) as f:
        for line in f:
            d = json.loads(line)
            if d.get("metric") == "rows":
                rows = d["rows"]
    with open(os.path.join(HERE, "reference.json")) as f:
        ref = json.load(f)
    bad = [(k, v["rows"], rows.get(k)) for k, v in sorted(ref.items())
           if rows.get(k) != v["rows"]]
    for k, mine, theirs in bad:
        print("%s: pinned %s, sweep %s" % (k, mine, theirs))
    print("%d pinned keys, %d differ from %s" % (len(ref), len(bad), sweep))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
