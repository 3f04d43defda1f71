"""Run one benchmark workload of the graft CDC engine.

    python3 perfbench/run.py --workload <catchup|steady> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from the checkout (perfbench/build.py),
then runs the workload in one JVM with a fixed heap and a fresh working
directory under .bench_build/ that is deleted on exit. The last line of
standard output is the result: {"correct", "attempted", "failed",
"metrics"}. The line before it carries diagnostics that are not metrics:
the host's CPU steal share during the run (from /proc/stat) and a
single-thread CPU canary. A traced run (--trace 1) also writes every span
it recorded to .bench_build/spans-<workload>-<seed>.jsonl.

Run from the root of a checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("catchup", "steady")
TIMEOUT_S = 170


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where unreadable."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def run_jvm(main, args, work, classes, jars):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.java_command(classes, jars) + [f"-Djava.io.tmpdir={tmp}", main] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=build.ROOT, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            # the JVM's own children, if any, go with it
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    with open(log_path) as f:
        log_tail = f.readlines()[-60:]
    return proc.returncode, out, log_tail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"run: {e}", file=sys.stderr)
        return 2
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.BUILD_DIR)
    try:
        before = cpu_times()
        if a.selftest:
            code, out, log = run_jvm("graftbench.SelfTest", [], work, classes, jars)
            sys.stdout.write(out)
            if code != 0:
                sys.stderr.writelines(log)
            return 0 if code == 0 else 1
        code, out, log = run_jvm("graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", work]
            + (["--spans", os.path.join(build.BUILD_DIR, f"spans-{a.workload}-{a.seed}.jsonl")]
               if a.trace else []), work, classes, jars)
        after = cpu_times()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        result = None
    if code != 0 or result is None:
        sys.stderr.writelines(log)
        print(f"run: the benchmark JVM exited with {code} and no result", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    diag = {}
    if before and after and after[1] > before[1]:
        diag["cpu_steal_share"] = round((after[0] - before[0]) / (after[1] - before[1]), 4)
    print("diag " + json.dumps(diag))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
