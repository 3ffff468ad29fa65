#!/usr/bin/env python3
"""Trend-stream and document-pipeline benchmark for graft.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Workloads: trend_live, trend_live_low (see
perfbench/README.md). The first run builds the library and the benchmark
into .bench_build/perfbench; every run then starts one JVM with Spark in
local[nproc] mode, which generates its inputs from --seed, sets up, warms
up, measures for --seconds, checks its outputs and prints one JSON result
as the last line of stdout. With --trace 1 the metrics are the per-layer
ones. Any failure exits non-zero without printing a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("trend_live", "trend_live_low")
# A run must end within 180 s once built; the JVM gets what is left.
RUN_DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(cp, work, main_args):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The same JVM flags the project's own run configuration uses
    # (build.sbt javaOptions), with a fixed heap so runs are comparable.
    opts += ["-Xms3g", "-Xmx3g", "-XX:-DontCompileHugeMethods",
             "-Dspark.sql.codegen.cache.maxEntries=10000",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp]
    return ["java"] + opts + ["-cp", cp, "graft.perfbench.Main"] + main_args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")

    cp = build.build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(os.getcwd(), ".bench_build", "perfbench", "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    main_args = (["--selftest"] if a.selftest else
                 ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace)])
    main_args += ["--work", work]
    log_path = os.path.join(os.path.dirname(work), name + ".stderr.log")
    # A terminated run stops its JVM too (the finally below runs on exit).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(cp, work, main_args),
                                stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=deadline - time.monotonic())
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"run: JVM timed out after {RUN_DEADLINE_S} s\n")
            sys.exit(3)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.stderr.write(f"run: JVM exited with code {proc.returncode}\n")
        sys.exit(proc.returncode or 4)
    for l in lines[:-1]:
        sys.stderr.write(l + "\n")
    result = json.loads(lines[-1])
    print(lines[-1] if a.selftest else json.dumps(declared_metrics(result, a.trace)))


def declared_metrics(result, trace):
    """Order and complete the result's metrics by BENCHMARK.json.

    A traced run reports every per-layer metric; one whose layer the
    workload does not run reads 0. A metric the program reports that
    BENCHMARK.json does not declare, or with another unit, is an error.
    """
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    units = {m["name"]: m["unit"] for m in declared}
    for name, m in got.items():
        if units.get(name) != m["unit"]:
            raise SystemExit(f"run: metric {name} ({m['unit']}) is not declared in BENCHMARK.json")
    if not trace and set(got) != set(units):
        raise SystemExit(f"run: end-to-end metrics missing: {sorted(set(units) - set(got))}")
    result["metrics"] = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                         for m in declared}
    return result


if __name__ == "__main__":
    main()
