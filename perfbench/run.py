"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (see build.py),
then runs the harness in one JVM at local[nproc]. The last line of
standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything the run writes stays under perfbench/ (.build, .work, .out).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("serve", "ingest")
# A run must end within 180 s; keep a margin for JVM exit and clean-up.
RUN_LIMIT_S = 165
HEAP = "2g"
# HotSpot compiles a method after a tenth of its default invocation counts,
# so that the fixed warm-up reaches compiled code: with the defaults, read
# latencies still fell by 10-15 % from the first to the second half of the
# timed loop.
JIT = "-XX:CompileThresholdScaling=0.1"


def kill_tree(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if a.seconds <= 0:
        p.error("--seconds must be positive")

    try:
        classpath = build.main_classpath()
        flags = build.jvm_flags()
    except build.BuildError as e:
        print(f"run: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    tag = f"{a.workload}-{a.seed}-trace{a.trace}"
    work = os.path.join(build.HERE, ".work", f"{tag}-{os.getpid()}")
    out = os.path.join(build.HERE, ".out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", JIT, *flags,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", work, "--out", out]
    log_path = os.path.join(out, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(
                timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            kill_tree(proc)
            print(f"run: {tag} exceeded {RUN_LIMIT_S} s; log in {log_path}",
                  file=sys.stderr)
            return 1
        except BaseException:
            kill_tree(proc)
            raise
        finally:
            shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        ok = (proc.returncode == 0 and
              set(result) == {"correct", "attempted", "failed", "metrics"})
    except (IndexError, ValueError):
        ok = False
    if not ok:
        print(f"run: {tag} failed (exit {proc.returncode}); log in {log_path}",
              file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    with open(os.path.join(out, f"{tag}.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
