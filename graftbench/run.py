#!/usr/bin/env python3
"""graftbench launcher: builds graft plus the benchmark from source, then
runs one workload in a fresh JVM and passes its output through.

    python3 graftbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --selftest

Run from the repository root. The last line of standard output is the
result JSON. Build outputs, run directories and traces go under
.bench_build/graftbench/ in the repository root; each run's directory is
removed when the run ends.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # write nothing next to the sources
import build  # noqa: E402

HEAP = "1g"
RUN_TIMEOUT_S = 170


def jvm_opts(tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    out = []
    for p in opens:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2

    runs = os.path.join(build.out_dir(root), "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs)
    # half the vCPUs: the query-planning thread, JIT and GC keep headroom,
    # and a vCPU the hypervisor steals from stalls fewer tasks
    cores = max(1, (os.cpu_count() or 1) // 2)
    args = ["--workload", "selftest" if a.selftest else a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", run_dir, "--cores", str(cores)]
    if a.trace:
        trace_out = os.path.join(build.out_dir(root), "traces",
                                 f"{a.workload}-seed{a.seed}.json")
        args += ["--trace-out", trace_out]
    cmd = ["java"] + jvm_opts(run_dir) + ["-cp", classpath, "graftbench.Main"] + args
    # few malloc arenas: the JVM's native footprint (and so the peak RSS)
    # then does not depend on how many threads happened to allocate
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        print("graftbench: run timed out", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
