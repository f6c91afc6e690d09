"""Turns a harness run record into the benchmark's metrics.

Pure functions of the record, the oracle verdicts and the host sample,
so the self-tests can drive them with hand-made records.
"""
import statistics

import hoststamp

MB = 1e6

END_TO_END_UNITS = {
    "setup_s": "s", "pass_wall_s": "s", "pass_cpu_s": "s", "row_p50_s": "s",
    "row_tail_s": "s", "peak_rss_mb": "MB", "write_mb_per_pass": "MB",
}

LAYER_UNITS = {
    "tables.load_ms": "ms", "scan.input_mb": "MB", "scan.input_records": "count",
    "build.s": "s", "build.share": "frac", "build.eager_jobs": "count",
    "build.eager_task_s": "s", "build.persisted_rdds": "count", "build.cached_mb": "MB",
    "catalyst.plan_s": "s", "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exchanges": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "sched.core_busy_frac": "frac",
    "exec.s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.output_rows": "count", "exec.peak_mem_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.disk_mb": "MB", "stream.batches": "count", "stream.batch_s": "s",
    "stream.state_rows": "count", "sink.output_mb": "MB", "sink.output_records": "count",
    "harness.cleanup_s": "s", "trace.overhead_s": "s", "trace.assigned_frac": "frac",
}


def unit(name: str) -> str:
    if name.startswith("kernel."):
        return "ns"
    return END_TO_END_UNITS.get(name) or LAYER_UNITS[name]


def tail(values):
    """The highest percentile of `values` that has at least ten readings
    above it: (value, percentile, readings). With ten readings or fewer
    no percentile qualifies and the result is (None, None, n).
    """
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return None, None, n
    k = n - 10  # 1-based rank with exactly ten readings after it
    return xs[k - 1], 100.0 * k / n, n


def readings(record: dict, verdicts: dict) -> list:
    """Every row reading with `failed` and `reason` set.

    A reading fails when its row threw, produced no rows, differed from
    the run's first output of that row, or when that first output failed
    the oracle. A failed reading is never used as a time.
    """
    out = []
    for p in record["passes"]:
        for r in p["rows"]:
            reason = r.get("error")
            if reason is None and r.get("out_rows", -1) <= 0:
                reason = "produced no rows"
            if reason is None:
                reason = verdicts.get(r["row"], "not checked")
            out.append(dict(r, traced=p["traced"], failed=reason is not None,
                            reason=reason))
    return out


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _pass_cpu_s(p: dict) -> float:
    d = (hoststamp.parse_pid_stat_ticks(p["stat1"]) -
         hoststamp.parse_pid_stat_ticks(p["stat0"]))
    return max(0, d) / hoststamp.CLK_TCK


def _pass_write_mb(p: dict) -> float:
    d = (hoststamp.parse_kv(p["io1"]).get("wchar", 0) -
         hoststamp.parse_kv(p["io0"]).get("wchar", 0))
    return max(0, d) / MB


def timed_passes(record: dict) -> list:
    """Untraced passes after the warm-up passes, which fill the JIT and
    file caches and are checked but never timed.
    """
    return [p for p in record["passes"]
            if not p["traced"] and p["pass"] >= record["warmup_passes"]]


def pass_summaries(record: dict) -> list:
    """Per pass: wall, process CPU, bytes written and host steal, so a
    steal burst shows on the pass it hit.
    """
    out = []
    for p in record["passes"]:
        flags = []
        steal = hoststamp.delta(hoststamp.parse_proc_stat(p["host0"]),
                                hoststamp.parse_proc_stat(p["host1"]), "steal", flags,
                                1.0 / hoststamp.CLK_TCK)
        out.append({"pass": p["pass"], "traced": p["traced"], "wall_s": p["wall_s"],
                    "cpu_s": _pass_cpu_s(p), "write_mb": _pass_write_mb(p),
                    "steal_s": steal, "flags": flags})
    return out


def end_to_end(record: dict, reads: list) -> dict:
    """End-to-end metrics over the timed passes."""
    passes = timed_passes(record)
    timed = {p["pass"] for p in passes}
    per_row = {}
    for r in reads:
        if not r["failed"] and not r["traced"] and r["pass"] in timed:
            per_row.setdefault(r["row"], []).append(r["wall_s"])
    ok = [x for xs in per_row.values() for x in xs]
    t, pct, n = tail(ok)
    return {
        "setup_s": record["setup_s"],
        "pass_wall_s": _median(p["wall_s"] for p in passes),
        "pass_cpu_s": _median(_pass_cpu_s(p) for p in passes),
        # a row's reading is its median over the timed passes; pooling the
        # readings instead lets the median jump across the gap between
        # fast and slow rows from run to run
        "row_p50_s": _median(_median(xs) for xs in per_row.values()),
        "row_tail_s": t if t is not None else max(ok, default=0.0),
        "peak_rss_mb": hoststamp.parse_status_kb(record["status"], "VmHWM") / 1024.0,
        "write_mb_per_pass": _median(_pass_write_mb(p) for p in passes),
        "_row_tail_pct": pct,
        "_row_readings": n,
        "_timed_passes": len(passes),
    }


def _layer_sum(rows, layers, key):
    return sum(r["layers"][l][key] for r in rows for l in layers)


ALL = ("build", "plan", "exec", "cleanup")


def _traced_pass(p: dict, cpus: int) -> dict:
    rows = p["rows"]
    span = {k: sum(r["spans"][k] for r in rows) for k in ALL}
    wall = sum(r["wall_s"] for r in rows)
    s = lambda key, layers=ALL: _layer_sum(rows, layers, key)
    exec_run_s = s("run_ms", ("exec",)) / 1e3
    return {
        "tables.load_ms": _median(p["tables_load_ms"]),
        "scan.input_mb": s("in_bytes") / MB,
        "scan.input_records": s("in_records"),
        "build.s": span["build"],
        "build.share": span["build"] / wall if wall > 0 else 0.0,
        "build.eager_jobs": s("jobs", ("build",)),
        "build.eager_task_s": s("run_ms", ("build",)) / 1e3,
        "build.persisted_rdds": sum(r["persisted_rdds"] for r in rows),
        "build.cached_mb": sum(r["cached_bytes"] for r in rows) / MB,
        "catalyst.plan_s": span["plan"],
        "catalyst.analysis_s": s("analysis_ms") / 1e3,
        "catalyst.optimization_s": s("optimization_ms") / 1e3,
        "catalyst.planning_s": s("planning_ms") / 1e3,
        "catalyst.exchanges": s("exchanges"),
        "sched.jobs": s("jobs"),
        "sched.stages": s("stages"),
        "sched.tasks": s("tasks"),
        "sched.delay_s": s("delay_ms") / 1e3,
        "sched.core_busy_frac": (exec_run_s / (span["exec"] * cpus)
                                 if span["exec"] > 0 else 0.0),
        "exec.s": span["exec"],
        "exec.task_run_s": exec_run_s,
        "exec.task_cpu_s": s("cpu_ns", ("exec",)) / 1e9,
        "exec.gc_s": s("gc_ms", ("exec",)) / 1e3,
        "exec.output_rows": sum(max(0, r["out_rows"]) for r in rows),
        "exec.peak_mem_mb": max((r["layers"][l]["peak_mem_bytes"] for r in rows
                                 for l in ALL), default=0) / MB,
        "shuffle.write_mb": s("shuffle_write_bytes") / MB,
        "shuffle.read_mb": s("shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_s": s("fetch_wait_ms") / 1e3,
        "spill.disk_mb": s("spill_disk_bytes") / MB,
        "stream.batches": s("batches"),
        "stream.batch_s": s("batch_ms") / 1e3,
        "stream.state_rows": s("state_rows"),
        "sink.output_mb": s("out_bytes") / MB,
        "sink.output_records": s("out_records"),
        "harness.cleanup_s": span["cleanup"],
    }


def per_layer(record: dict) -> dict:
    """Per-layer metrics: each is summed over a traced pass, and the
    median over the run's traced passes is reported. Kernel timings and
    the tracing overhead are added.
    """
    cpus = int(record["cpus"])
    traced = [p for p in record["passes"] if p["traced"]]
    per_pass = [_traced_pass(p, cpus) for p in traced]
    keys = per_pass[0].keys() if per_pass else []
    out = {k: _median(pp[k] for pp in per_pass) for k in keys}
    for name, ns in sorted(record["kernels_ns_per_row"].items()):
        out[f"kernel.{name}.ns_per_row"] = ns
    out["trace.overhead_s"] = (_median(p["wall_s"] for p in traced) -
                               _median(p["wall_s"] for p in timed_passes(record)))
    out["trace.assigned_frac"] = min((assigned_frac(p) for p in traced), default=0.0)
    return out


def assigned_frac(p: dict) -> float:
    """Share of the executor run time of a traced pass that the listeners
    charged to a row's span; tasks of a stage submitted while no span was
    current are the rest. A pass that ran no task time reads 1.
    """
    total = p["all_tasks"]["run_ms"]
    charged = sum(r["layers"][l]["run_ms"] for r in p["rows"] for l in ALL)
    return min(1.0, charged / total) if total > 0 else 1.0


def spans(record: dict) -> list:
    """Span list of the run: one span per pass, and per row one span per
    layer whose id is the row and whose parent is the pass.
    """
    out = []
    for p in record["passes"]:
        pid = f"pass{p['pass']}"
        rows = p["rows"]
        if rows:
            start = rows[0]["start_s"]
            out.append({"id": pid, "parent": None, "name": "pass",
                        "start_s": start, "end_s": start + p["wall_s"]})
        for r in rows:
            t = r["start_s"]
            for layer in ALL:
                d = r["spans"][layer]
                out.append({"id": r["row"], "parent": pid, "name": layer,
                            "start_s": t, "end_s": t + d})
                t += d
    return out


def self_times(span_list: list) -> dict:
    """Self time per span name, summed: a span's duration minus the part
    its child spans cover.
    """
    child = {}
    for sp in span_list:
        if sp["parent"] is not None:
            child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end_s"] - sp["start_s"]
    out = {}
    for sp in span_list:
        own = sp["end_s"] - sp["start_s"]
        if sp["parent"] is None:
            own -= child.get(sp["id"], 0.0)
        out[sp["name"]] = out.get(sp["name"], 0.0) + own
    return out
