"""Run one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload <ingest|serve> \\
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (see build.py),
then runs graftbench.Main in one JVM on Spark local[min(4, nproc)]. The last
line of standard output is the result JSON; `# detail` lines before it carry
sample counts, tail percentiles, failure causes and per-workload figures.
All scratch files live under .bench_build/ and are removed after the run;
traced runs leave their spans in .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def result_ok(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData"]
           + [x for m in ADD_OPENS for x in ("--add-opens", m + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", os.path.join(work, "run"), "--trace-out", trace_out])
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(*_):
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(143)))

    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        out, _ = child.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop()
        print(f"graftbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if child.returncode != 0 or not lines or not result_ok(lines[-1]):
        sys.stdout.write("\n".join(lines[:-1] if lines and result_ok(lines[-1]) else lines) + "\n")
        print(f"graftbench: run failed (exit code {child.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
