"""Parsers for /proc and cgroup counters, and the host stamp of a run.

Every parser returns non-negative numbers: a missing file, a garbled
line or a negative field reads as 0. Deltas between two samples are
clamped at 0, and a counter that ran backwards is named in `flags`
instead of producing a negative value.
"""
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _nonneg_int(s) -> int:
    try:
        return max(0, int(s))
    except (TypeError, ValueError):
        return 0


def parse_proc_stat(text: str) -> dict:
    """Aggregate `cpu` line of /proc/stat, in clock ticks."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [_nonneg_int(v) for v in parts[1:1 + len(CPU_FIELDS)]]
            vals += [0] * (len(CPU_FIELDS) - len(vals))
            return dict(zip(CPU_FIELDS, vals))
    return dict.fromkeys(CPU_FIELDS, 0)


def parse_kv(text: str) -> dict:
    """`key value` lines, as in cgroup v2 cpu.stat and /proc/<pid>/io."""
    out = {}
    for line in text.splitlines():
        parts = line.replace(":", " ").split()
        if len(parts) >= 2:
            out[parts[0]] = _nonneg_int(parts[1])
    return out


def parse_pid_stat_ticks(text: str) -> int:
    """utime + stime of /proc/<pid>/stat, in clock ticks.

    Fields are counted after the ')' that closes the command name, which
    may itself contain spaces or parentheses.
    """
    rest = text[text.rfind(")") + 1:].split()
    if len(rest) < 13:
        return 0
    return _nonneg_int(rest[11]) + _nonneg_int(rest[12])


def parse_status_kb(text: str, key: str) -> int:
    """A `<key>: <n> kB` field of /proc/<pid>/status."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            parts = line.split()
            return _nonneg_int(parts[1]) if len(parts) > 1 else 0
    return 0


def delta(before: dict, after: dict, key: str, flags: list, scale: float = 1.0) -> float:
    """after[key] - before[key], clamped at 0; flags a counter that fell."""
    d = after.get(key, 0) - before.get(key, 0)
    if d < 0:
        flags.append(f"{key}_backwards")
        return 0.0
    return d * scale


def sample() -> dict:
    return {"wall": time.monotonic(),
            "stat": parse_proc_stat(_read("/proc/stat")),
            "cgroup": parse_kv(_read("/sys/fs/cgroup/cpu.stat")),
            "self_ticks": parse_pid_stat_ticks(_read("/proc/self/stat"))}


def stamp(before: dict, after: dict, bench_cpu_s: float) -> dict:
    """Host counters over one run.

    `bench_cpu_s` is the CPU the benchmark's own JVM used (from its
    rusage). Other-process CPU is host busy time minus the benchmark's
    JVM and this process. `class` is `steal` when the hypervisor took
    more than 5% of the host's CPU time, `contended` when other
    processes used more than 20% of it, else `quiet`.
    """
    flags = []
    tick = 1.0 / CLK_TCK
    s0, s1 = before["stat"], after["stat"]
    busy = sum(delta(s0, s1, k, flags, tick)
               for k in ("user", "nice", "system", "irq", "softirq"))
    total = busy + sum(delta(s0, s1, k, flags, tick) for k in ("idle", "iowait", "steal"))
    steal = delta(s0, s1, "steal", [], tick)
    own = delta({"t": before["self_ticks"]}, {"t": after["self_ticks"]}, "t", flags, tick)
    other = busy - max(0.0, bench_cpu_s) - own
    if other < 0:
        flags.append("other_cpu_clamped")
        other = 0.0
    c0, c1 = before["cgroup"], after["cgroup"]
    if not c0 or not c1:
        flags.append("cgroup_cpu_stat_missing")
    wall = max(0.0, after["wall"] - before["wall"])
    out = {
        "wall_s": wall,
        "host_cpu_s": total,
        "host_busy_s": busy,
        "steal_s": steal,
        "bench_cpu_s": max(0.0, bench_cpu_s),
        "other_cpu_s": other,
        "cgroup_usage_s": delta(c0, c1, "usage_usec", flags, 1e-6),
        "throttled_s": delta(c0, c1, "throttled_usec", flags, 1e-6),
        "nr_throttled": delta(c0, c1, "nr_throttled", flags),
        "bench_cpu_per_wall": max(0.0, bench_cpu_s) / wall if wall > 0 else 0.0,
        "flags": sorted(set(flags)),
    }
    out["class"] = ("steal" if total > 0 and steal > 0.05 * total else
                    "contended" if total > 0 and other > 0.2 * total else "quiet")
    return out
