#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload report_refresh --seed 1 --seconds 35 --trace 0

Run from the root of a checkout. The first run compiles the program and
the harness (see build.py); every run reads the sf 0.01 test tables
copied into `perfbench/data`, runs the workload's registry rows in one
JVM at local[<cores>] in an order the seed sets, checks their outputs
against the DuckDB oracle, prints every metric with its unit, writes a
run record under `.bench_build/runs/`, and prints one JSON result as
its last line.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import hoststamp  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("report_refresh", "sink_stream")
# the test tables in perfbench/data: sf 0.01 is ~60,000 lineitem rows
DATA = HERE / "data"
SF = 0.01
# a harness JVM still running after this long is killed and the run fails
JVM_TIMEOUT_S = 150
# the JDK 17 module opens Spark needs outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def jvm_command(classpath: str, bdir: Path, a, data: Path, out: Path, cpus: int) -> list:
    tmp = bdir / "tmp"
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # A fixed heap with a fixed young generation: young regions are
        # all touched after a few collections, so peak RSS moves with the
        # old generation's high water, i.e. with data the program holds.
        "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
        f"-Djava.io.tmpdir={tmp / 'java'}",
        "-Dlog4j2.level=ERROR",
    ]
    if a.trace:
        opts += ["-Dspark.sql.queryExecutionListeners=perfbench.QeListener",
                 "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamListener"]
    return ["java"] + opts + ["-cp", classpath, "perfbench.Main",
                              "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--data", str(data), "--out", str(out),
                              "--cpus", str(cpus),
                              "--launch-epoch-ms", str(int(time.time() * 1000))]


def run_jvm(cmd: list, cwd: Path, log: Path):
    """Runs the harness JVM in its own process group; returns the CPU
    seconds it used. The group is killed if it outlives JVM_TIMEOUT_S.
    """
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        tail = log.read_text(errors="replace")[-3000:]
        fail(f"harness exited with {proc.returncode}; log tail:\n{tail}")
    return usage.ru_utime + usage.ru_stime


def main() -> None:
    a = parse_args()
    root = HERE.parent
    if not (root / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {root}; run from the root of a checkout")
    if not (root / "tools" / "check.py").is_file():
        fail("tools/check.py (the canonical oracle compare) is missing")
    classpath = build.ensure(root)
    bdir = build.build_dir(root)
    if not (DATA / "lineitem.parquet").is_file():
        fail(f"input tables not found under {DATA}")
    run_dir = bdir / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    out = run_dir / "out"
    out.mkdir(parents=True)
    for d in ("spark-local", "warehouse", "java"):
        (bdir / "tmp" / d).mkdir(parents=True, exist_ok=True)
    work = bdir / "work"
    work.mkdir(exist_ok=True)
    cpus = os.cpu_count() or 1

    host0 = hoststamp.sample()
    jvm_cpu = run_jvm(jvm_command(classpath, bdir, a, DATA, out, cpus), work,
                      run_dir / "harness.log")
    host = hoststamp.stamp(host0, hoststamp.sample(), jvm_cpu)

    record = json.loads((out / "record.json").read_text())
    verdicts = oracle.check(root, str(DATA), str(out), record["oracles"])
    reads = metrics.readings(record, verdicts)
    e2e = metrics.end_to_end(record, reads)
    layers = metrics.per_layer(record) if a.trace else {}
    attempted = len(reads)
    failed = sum(r["failed"] for r in reads)

    chosen = layers if a.trace else {k: e2e[k] for k in metrics.END_TO_END_UNITS}
    failed_frac = failed / attempted if attempted else 1.0
    for k in metrics.END_TO_END_UNITS:
        print(f"{k} {e2e[k]:.6g} {metrics.unit(k)}")
    print(f"failed_frac {failed_frac:.6g} frac")
    for k, v in sorted(layers.items()):
        print(f"{k} {v:.6g} {metrics.unit(k)}")
    print(f"row_tail_s is p{e2e['_row_tail_pct'] or 100:.1f} of {e2e['_row_readings']} "
          f"readings; {e2e['_timed_passes']} timed passes; host {host['class']} "
          f"(steal {host['steal_s']:.2f} s, other cpu {host['other_cpu_s']:.2f} s)")
    for r in reads:
        if r["failed"]:
            print(f"FAIL {r['row']} pass {r['pass']}: {r['reason']}")

    span_list = metrics.spans(record)
    (run_dir / "run.json").write_text(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "sf": SF, "cpus": cpus, "host": host, "end_to_end": e2e, "per_layer": layers,
        "failed_frac": failed_frac,
        "passes": metrics.pass_summaries(record),
        "oracle": verdicts, "readings": reads, "spans": span_list,
        "self_time_s": metrics.self_times(span_list),
        "setup_s": record["setup_s"]}, indent=1))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.unit(k)} for k, v in chosen.items()}}))


if __name__ == "__main__":
    main()
