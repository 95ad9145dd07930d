#!/usr/bin/env python3
"""Bench stdout artifact contract check.

Usage: python3 tools/artifact_check.py <bench_stdout_file>

Validates the four-line stdout contract Bench.artifactLines emits, the way
the DRIVER consumes it (2000-char stdout tail, json.loads of the last
line) — so a format drift fails `sbt test` (ArtifactContractSpec drives
this script) instead of silently blinding a future round's verdict:

 1. every artifact line is standalone-parseable JSON with a `metric` tag;
 2. line order is rows, plan_class, queries, total (most-droppable first);
 3. the LAST line is scalars-only (no dict values), well under the tail
    window, and carries value/total_ok/calibration_sec/n_queries/n_errors;
 4. a simulated 2000-char tail still parses that last line intact;
 5. the queries/rows/plan_class maps agree on the key set and its size
    equals n_queries;
 6. the rows line's `warmup_failed`, when present, lists warmup step names
    (strings) — it lives there, never on the scalars-only last line.

Exit 0 = contract holds; exit 1 with a reason otherwise.
"""
import json
import sys

TAIL_WINDOW = 2000


def fail(msg: str) -> None:
    print(f"ARTIFACT CONTRACT VIOLATION: {msg}")
    sys.exit(1)


def check_correctness(path: str) -> None:
    """CORRECTNESS_r{N}.json shape: {key: {rows_match, schema_match,
    hash_match, spark_rows, oracle_rows, err}} — every field present and
    correctly typed, so a driver-side format drift is caught by the spec
    that feeds this the committed artifacts."""
    d = json.load(open(path, encoding="utf-8"))
    if not isinstance(d, dict) or not d:
        fail("correctness artifact must be a non-empty key->result dict")
    for k, v in d.items():
        no_oracle = v.get("err") == "no_oracle"
        for b in ("rows_match", "schema_match", "hash_match"):
            ok = isinstance(v.get(b), bool) or (no_oracle and v.get(b) is None)
            if not ok:
                fail(f"{k}.{b} missing or not a bool")
        if not isinstance(v.get("spark_rows"), int):
            fail(f"{k}.spark_rows missing or not an int")
        orows = v.get("oracle_rows")
        if not (isinstance(orows, int) or (no_oracle and orows is None)):
            fail(f"{k}.oracle_rows missing or not an int")
        if "err" not in v:
            fail(f"{k}.err missing")
    n_pass = sum(1 for v in d.values()
                 if v.get("rows_match") and v.get("schema_match")
                 and v.get("hash_match"))
    print(f"correctness artifact OK: {len(d)} keys, {n_pass} full passes")


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--correctness":
        check_correctness(sys.argv[2])
        return
    if len(sys.argv) != 2:
        fail("usage: artifact_check.py [--correctness] <file>")
    raw = open(sys.argv[1], encoding="utf-8").read()
    all_lines = [ln for ln in raw.splitlines() if ln.strip().startswith("{")]
    if len(all_lines) < 4:
        fail(f"expected >= 4 JSON artifact lines, got {len(all_lines)}")
    # Diagnostic lines (cpu / full / retimed) ride ABOVE the core four —
    # most-droppable first — and are validated when present; the binding
    # tail contract is the last four lines.
    diag = {}
    for ln in all_lines[:-4]:
        try:
            p = json.loads(ln)
            diag[p.get("metric")] = p
        except json.JSONDecodeError as e:
            fail(f"diagnostic line is not standalone JSON: {e}")
    lines = all_lines[-4:]
    parsed = []
    for i, ln in enumerate(lines):
        try:
            parsed.append(json.loads(ln))
        except json.JSONDecodeError as e:
            fail(f"line {i} is not standalone JSON: {e}")
    metrics = [p.get("metric") for p in parsed]
    if metrics != ["rows", "plan_class", "queries", "total"]:
        fail(f"line order must be rows,plan_class,queries,total; got {metrics}")
    rows, plan, queries, total = parsed

    # Last line: scalars only (a dict OR list value is the truncation
    # class — the error arrays are unbounded under mass failure), and
    # parseable from a bare tail window.
    if any(isinstance(v, (dict, list)) for v in total.values()):
        fail("total line must not embed any map/array (tail-truncation class)")
    if len(lines[-1]) > 1000:
        fail(f"total line is {len(lines[-1])} chars; must stay far below "
             f"the {TAIL_WINDOW}-char tail window")
    for field in ("value", "total_ok", "total_full", "calibration_sec",
                  "n_queries", "n_errors", "n_suspect_zero", "n_retimed",
                  "sf"):
        if field not in total:
            fail(f"total line missing `{field}`")
    tail = raw[-TAIL_WINDOW:]
    last_in_tail = [ln for ln in tail.splitlines()
                    if ln.strip().startswith("{")]
    try:
        re = json.loads(last_in_tail[-1])
    except Exception as e:
        fail(f"2000-char tail does not re-parse the total line: {e}")
    if re.get("metric") != "total" or re.get("value") != total["value"]:
        fail("tail-parsed total line disagrees with the full one")

    wf = rows.get("warmup_failed", [])
    if not (isinstance(wf, list) and all(isinstance(x, str) for x in wf)):
        fail("rows line `warmup_failed` must be a list of step names")

    # Map lines agree on keys; count matches the headline.
    qkeys = set(queries["queries"])
    if set(rows["rows"]) != qkeys or set(plan["plan_class"]) != qkeys:
        fail("rows/plan_class/queries key sets disagree")
    if total["n_queries"] != len(qkeys):
        fail(f"n_queries={total['n_queries']} but queries map has "
             f"{len(qkeys)} keys")
    if abs(sum(queries["queries"].values()) - total["value"]) > 0.01 * len(qkeys):
        fail("sum(queries) disagrees with total value beyond rounding")

    # Dual-metric + environment-diagnostic lines, when emitted: per-key
    # cpu/full maps cover the same key set, and the retimed map is a
    # subset sized by the headline n_retimed.
    for m in ("cpu", "full"):
        if m in diag and set(diag[m][m]) != qkeys:
            fail(f"{m} line key set disagrees with queries")
    if "retimed" in diag:
        ret = diag["retimed"]["retimed"]
        if not set(ret) <= qkeys:
            fail("retimed keys not a subset of queries")
        if total["n_retimed"] != len(ret):
            fail(f"n_retimed={total['n_retimed']} but retimed map has "
                 f"{len(ret)} keys")
        order = diag["retimed"].get("order", {})
        if set(order) != qkeys:
            fail("order map key set disagrees with queries")
    print(f"artifact contract OK: {len(qkeys)} keys, "
          f"total={total['value']}s, last line {len(lines[-1])} chars")


if __name__ == "__main__":
    main()
