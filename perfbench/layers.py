"""Turns the measuring process's result file into the benchmark's metrics."""

import stats

MB = 1024.0 * 1024.0
WARM_STEPS = ("layout", "ann_index", "graph_cache", "dedup_index",
              "stream_inputs", "dsv2_topic")
# `layout` is reported as the sum of the LayoutCache copies a workload builds.
LAYOUT_PARTS = ("layout.partitioned", "layout.zordered", "layout.bucketed")


# The end-to-end metrics every workload reports (BENCHMARK.json).
END_TO_END = ("setup_s", "pass_s", "query_p50_s", "query_tail_s", "cpu_s",
              "live_heap_mb")


def latency(k):
    return k["build_s"] + k["action_s"]


def end_to_end(result):
    """End-to-end metrics from the untraced passes, as {name: (value, unit)},
    plus the tail's percentile and sample count."""
    passes = [p for p in result["passes"] if not (p["traced"] or p["settle"])]
    samples = [latency(k) for p in passes for k in p["keys"]]
    tail = stats.tail(samples)
    m = {
        "setup_s": (result["setup"]["setup_s"], "s"),
        "pass_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (stats.quantile(samples, 50), "s"),
        "query_tail_s": (tail[1] if tail else max(samples), "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
        "live_heap_mb": (stats.median([p["live_heap_mb"] for p in passes]), "MiB"),
        "peak_rss_mb": (result["peak_rss_mb"], "MiB"),
    }
    batches = [b for p in passes for k in p["keys"] for b in k["passive"]["batch_ms"]]
    if batches:
        rows = sum(k["passive"]["stream_input_rows"] for p in passes for k in p["keys"])
        m["stream_batch_p50_ms"] = (stats.median(batches), "ms")
        m["stream_rows_per_s"] = (rows / (sum(batches) / 1e3), "1/s")
    written = [sum(k["passive"]["sink_rows"] for k in p["keys"]) / p["wall_s"]
               for p in passes]
    if any(written):
        m["rows_written_per_s"] = (stats.median(written), "1/s")
    info = {"tail_percentile": tail[0] if tail else 100.0,
            "tail_samples": len(samples)}
    return m, info


def key_layers(k):
    """Per-layer figures of one traced key run."""
    l = k["layers"]
    wall = latency(k)
    p = k["passive"]
    return {
        "build.s": k["build_s"], "build.jobs": l["build_jobs"],
        "plan.analysis_ms": l["analysis_ms"], "plan.optimize_ms": l["optimize_ms"],
        "plan.physical_ms": l["physical_ms"], "plan.actions": l["actions"],
        "exec.jobs": l["jobs"], "exec.stages": l["stages"], "exec.tasks": l["tasks"],
        "exec.task_run_s": l["task_run_ms"] / 1e3,
        "exec.task_cpu_s": l["task_cpu_ns"] / 1e9, "exec.gc_s": l["gc_ms"] / 1e3,
        "exec.task_s": l["task_ms"] / 1e3, "exec.no_task_s": l["idle_ms"] / 1e3,
        "exec.skew": l["skew"], "wall_s": wall,
        "shuffle.write_mb": l["shuffle_write"] / MB,
        "shuffle.read_mb": l["shuffle_read"] / MB,
        "shuffle.fetch_wait_s": l["fetch_wait_ms"] / 1e3, "spill.mb": l["spill"] / MB,
        "scan.mb_read": l["scan_bytes"] / MB, "scan.rows_read": l["scan_rows"],
        "scan.tasks": l["scan_tasks"],
        "cut.rdds": l["cut_rdds"], "cut.mb": l["cut_bytes"] / MB,
        "stream.batches": len(p["batch_ms"]), "stream.batch_ms": sum(p["batch_ms"]),
        "stream.input_rows": p["stream_input_rows"],
        "stream.get_batch_ms": l["get_batch_ms"], "stream.add_batch_ms": l["add_batch_ms"],
        "stream.commit_ms": l["commit_ms"], "stream.state_rows": l["state_rows"],
        "stream.state_mb": l["state_bytes"] / MB,
        "sink.rows": p["sink_rows"], "sink.mb": p["sink_bytes"] / MB,
        "sink.tasks": p["sink_tasks"],
    }


SUMMED = ("build.s", "build.jobs", "plan.analysis_ms", "plan.optimize_ms",
          "plan.physical_ms", "plan.actions", "exec.jobs", "exec.stages",
          "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
          "exec.no_task_s", "shuffle.write_mb", "shuffle.read_mb",
          "shuffle.fetch_wait_s", "spill.mb", "scan.mb_read", "scan.rows_read",
          "scan.tasks", "cut.rdds", "cut.mb", "stream.batches",
          "stream.get_batch_ms", "stream.add_batch_ms", "stream.commit_ms",
          "stream.state_rows", "stream.state_mb", "sink.rows", "sink.mb",
          "sink.tasks")

def unit_of(name):
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith(("_frac", ".share")):
        return "fraction"
    if name in ("exec.skew", "exec.tasks_per_stage"):
        return "ratio"
    if name.endswith("mb") or ".mb_" in name:
        return "MiB"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(result):
    """Per-layer metrics of the traced passes, per workload pass, plus the
    per-key table they are summed from."""
    cores = int(result["cores"])
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not (p["traced"] or p["settle"])]
    per_pass = []
    table = {}
    for p in traced:
        rows = [key_layers(k) for k in p["keys"]]
        for k, r in zip(p["keys"], rows):
            table.setdefault(k["key"], []).append(r)
        t = {n: sum(r[n] for r in rows) for n in SUMMED}
        wall = sum(r["wall_s"] for r in rows)
        t["build.share"] = t["build.s"] / wall
        t["exec.tasks_per_stage"] = t["exec.tasks"] / max(1, t["exec.stages"])
        t["exec.busy_frac"] = sum(r["exec.task_s"] for r in rows) / (cores * wall)
        t["exec.skew"] = stats.median([r["exec.skew"] for r in rows])
        t["plan.share"] = (t["plan.optimize_ms"] + t["plan.physical_ms"]) / 1e3 / wall
        batch_ms = [b for k in p["keys"] for b in k["passive"]["batch_ms"]]
        t["stream.batch_p50_ms"] = stats.median(batch_ms) if batch_ms else 0.0
        in_rows = sum(r["stream.input_rows"] for r in rows)
        t["stream.rows_per_s"] = in_rows / (sum(batch_ms) / 1e3) if batch_ms else 0.0
        t["sink.rows_per_s"] = t["sink.rows"] / p["wall_s"]
        per_pass.append(t)
    m = {n: stats.median([t[n] for t in per_pass]) for n in per_pass[0]}
    setup = result["setup"]
    for step in WARM_STEPS:
        parts = LAYOUT_PARTS if step == "layout" else (step,)
        m["setup.%s_s" % step] = sum(setup.get(p + "_s", 0.0) for p in parts)
    m["setup.session_s"] = setup["session_s"]
    m["setup.jit_s"] = result["jit_s"]
    m["trace.overhead_frac"] = (
        stats.median([p["wall_s"] for p in traced]) /
        stats.median([p["wall_s"] for p in plain]) - 1.0)
    keys = {k: {n: stats.median([r[n] for r in rs]) for n in rs[0]}
            for k, rs in table.items()}
    return {n: (v, unit_of(n)) for n, v in m.items()}, keys


def self_times(spans):
    """Each span's duration minus the part of it its children cover, in ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        if hi is None:
            continue
        covered, end = 0.0, lo
        for a, b in sorted((max(c["start_ms"], lo), min(c["end_ms"] or hi, hi))
                           for c in children.get(s["id"], [])):
            if b > end:
                covered += b - max(a, end)
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out
