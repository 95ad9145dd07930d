#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_read --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the repository's main
sources and the harness with the Scala compiler among the Spark jars its
build.sbt names (no sbt, nothing written outside the checkout); later runs
reuse the build while the sources are unchanged. The last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and
`metrics`. The exit code is 0 only
when every output matched the pinned reference and nothing failed.

`--pin` (developer use) records the run's row counts and digests into
`reference.json` instead of checking them.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 165
# A fixed heap: with a growing one, the collector's heap sizing made pass
# times and peak_rss_mb differ by 15-27 % between runs of the same code.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            if "target" in p.split(os.sep):
                continue
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and reaped. Returns the exit code or None."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_bin():
    """java from JAVA_HOME, else PATH, else the system's JVM directory."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        java = next(iter(sorted(glob.glob("/usr/lib/jvm/*/bin/java"))), None)
    if not java:
        fail("no java: set JAVA_HOME or put java on PATH", 1)
    return java


def spark_jars(root):
    """The jar directory the repository's build compiles against: the
    `unmanagedBase` of its build.sbt, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail("no Spark jars in %r (build.sbt unmanagedBase)" % d, 1)
    return jars


def build(root, state):
    """Compiles the repository's main sources and the harness in one scalac
    run, with the Scala compiler and Spark jars the repository's build uses,
    so nothing outside the checkout is written; returns the classpath."""
    jars = spark_jars(root)
    classes = os.path.join(state, "classes")
    cp = os.pathsep.join([classes] + jars)
    stamp_file = os.path.join(state, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
        os.remove(stamp_file)
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("no Scala compiler among the Spark jars", 1)
    sources = sorted(os.path.join(d, f)
                     for top in (os.path.join(root, "src", "main"),
                                 os.path.join(HERE, "src", "main"))
                     for d, _, fs in os.walk(top) for f in fs
                     if f.endswith(".scala"))
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    args = os.path.join(state, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(['-nowarn', '-d', '"%s"' % classes,
                           '-classpath', '"%s"' % os.pathsep.join(jars)] +
                          ['"%s"' % s for s in sources]) + "\n")
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(state, "build.log")
    with open(log, "w") as out:
        code = run_group([java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                          "-Djava.io.tmpdir=" + tmp, "-Dscala.usejavacp=false",
                          "-cp", os.pathsep.join(compiler),
                          "scala.tools.nsc.Main", "@" + args],
                         BUILD_TIMEOUT_S, cwd=root, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("build failed (exit %s); see %s" % (code, log), 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def measure(cp, root, state, args):
    """Runs the measuring JVM; returns its parsed result file."""
    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cmd = [java_bin()] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "graft.perfbench.Main",
            "--spec", os.path.join(HERE, "workloads.json"),
            "--data", os.path.join(HERE, "data"), "--out", out,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    env = dict(os.environ, GRAFT_SCRATCH_ROOT=os.path.join(work, "scratch"))
    # Bind Spark to the loopback interface whatever the host's name resolves to.
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    log = os.path.join(state, "jvm.log")
    with open(log, "w") as f:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=root, env=env, stdout=f,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("measuring process failed (exit %s); see %s" % (code, log), 1)
    with open(out) as f:
        result = json.load(f)
    keep = os.path.join(state, "results", "%s-%d-%d.json" % (
        args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(keep), exist_ok=True)
    shutil.move(out, keep)
    shutil.rmtree(work, ignore_errors=True)
    return result


def check(result, reference):
    """Failed operations: warm steps and keys that threw, and key runs whose
    row count or digest differs from the pinned reference."""
    bad = [dict(f) for f in result["failures"]]
    warm = {"pass": "warm", "keys": result["warm_keys"]}
    for p in [warm] + result["passes"]:
        for k in p["keys"]:
            if k["error"]:
                continue
            ref = reference.get(k["key"])
            if ref is None:
                bad.append({"what": "key:" + k["key"], "error": "no reference"})
            elif k["rows"] != ref["rows"]:
                bad.append({"what": "key:" + k["key"], "pass": p["pass"],
                            "error": "rows %d, reference %d" % (k["rows"], ref["rows"])})
            elif "digest" in ref and k["digest"] != ref["digest"]:
                bad.append({"what": "key:" + k["key"], "pass": p["pass"],
                            "error": "digest %s, reference %s" % (k["digest"], ref["digest"])})
    return bad


def pin(result, reference, path):
    """Records this run's outputs as the reference; a key whose passes
    disagree is pinned on its row count only."""
    seen = {}
    for p in result["passes"]:
        for k in p["keys"]:
            if k["error"]:
                fail("cannot pin %s: %s" % (k["key"], k["error"]), 1)
            seen.setdefault(k["key"], set()).add((k["rows"], k["digest"]))
    for key, outs in sorted(seen.items()):
        rows = {r for r, _ in outs}
        if len(rows) != 1:
            fail("cannot pin %s: row count differs between passes" % key, 1)
        old = reference.get(key, {})
        entry = dict(old, rows=rows.pop())
        digest = next(iter(outs))[1]
        if len(outs) > 1:
            entry.setdefault("rows_only", "digest differs between passes")
        elif old.get("digest", digest) != digest:
            entry.setdefault("rows_only", "digest differs between runs")
        if "rows_only" in entry:
            entry.pop("digest", None)
        else:
            entry["digest"] = digest
        reference[key] = entry
    with open(path, "w") as f:
        json.dump(dict(sorted(reference.items())), f, indent=1)
        f.write("\n")


def write_trace(result, keys, state):
    """Writes the spans with their self times, and the per-key layer table
    with each key's self time per span name (build, action, job), per
    traced pass. Spans of the untraced passes are not recorded."""
    spans = result["spans"]
    own = layers.self_times(spans)
    for s in spans:
        s["self_ms"] = own.get(s["id"])
        if s["key"] in keys and s["name"] in ("build", "action", "job"):
            k = keys[s["key"]]
            k["self_ms." + s["name"]] = k.get("self_ms." + s["name"], 0.0) + s["self_ms"]
    traced = sum(1 for p in result["passes"] if p["traced"])
    for k in keys.values():
        for n in [n for n in k if n.startswith("self_ms.")]:
            k[n] /= traced  # per pass, like the rest of the table
    path = os.path.join(state, "traces", "%s-%s.json" % (result["workload"],
                                                         result["seed"]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": spans, "keys": keys}, f)
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: no build.sbt and src/main/scala here")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail("unknown workload %r; known: %s" % (
            args.workload, ", ".join(sorted(spec["workloads"]))))
    ref_path = os.path.join(HERE, "reference.json")
    reference = {}
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            reference = json.load(f)

    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    t0 = time.time()
    cp = build(root, state)
    print("build_wall_s %.1f s" % (time.time() - t0), file=sys.stderr)
    result = measure(cp, root, state, args)

    if args.pin:
        pin(result, reference, ref_path)
        print("pinned %s" % args.workload, file=sys.stderr)
        return 0
    bad = check(result, reference)
    e2e, info = layers.end_to_end(result)
    metrics = {n: e2e[n] for n in layers.END_TO_END}
    if args.trace:
        metrics, keys = layers.per_layer(result)
        print("trace %s" % write_trace(result, keys, state))
    attempted = result["attempted"]
    print("workload %s seed %d passes %d keys %d" % (
        args.workload, args.seed, len(result["passes"]),
        len(result["passes"][0]["keys"])))
    for name, (v, unit) in sorted(e2e.items()):
        print("%-22s %14.4f %s" % (name, v, unit))
    print("%-22s %14.4f %s  (p%g of %d samples)" % (
        "query_tail_percentile", info["tail_percentile"], "pct",
        info["tail_percentile"], info["tail_samples"]))
    print("%-22s %14.4f fraction  (%d of %d)" % (
        "fail_frac", len(bad) / attempted, len(bad), attempted))
    if args.trace:
        for name, (v, unit) in sorted(metrics.items()):
            print("%-22s %14.4f %s" % (name, v, unit))
    for b in bad:
        print("FAILED " + json.dumps(b, sort_keys=True))
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
