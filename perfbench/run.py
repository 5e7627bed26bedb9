#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result object.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine
(src/main/scala) and the benchmark (perfbench/src) into .bench_build/;
later runs reuse the build while the sources are unchanged. Every file a
run writes stays under .bench_build/perfbench/. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "trickle", "curate", "retrieve")
TIMEOUT_S = 170
HEAP = "3g"


def jvm_command(root, classpath, args, work, cores):
    bench = os.path.join(root, "perfbench")
    return [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:CICompilerCount=2",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData", "-Xss8m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(bench, "log4j2.properties"),
            "-Dspark.ui.enabled=false"] + build.ADD_OPENS + [
        "-cp", classpath, "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace), work, str(cores)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classpath = build.ensure(root)
    except build.BuildError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        return 2

    # one core of at most four stays free for the driver thread and the JIT
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    work = os.path.join(build.out_dir(root), "work-%s-%d" % (args.workload, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k not in ("GRAFT_BPE_RANKS", "JAVA_TOOL_OPTIONS")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    log_path = os.path.join(build.out_dir(root), "last-%s.log" % args.workload)
    proc = None
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(jvm_command(root, classpath, args, work, cores),
                                    stdout=subprocess.PIPE, stderr=log, env=env,
                                    start_new_session=True)
            out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded %d s" % TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    text = out.decode("utf-8", "replace")
    sys.stdout.write(text)
    if proc.returncode != 0 or not text.strip().splitlines()[-1:] or \
            not text.strip().splitlines()[-1].startswith("{"):
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode("utf-8", "replace"))
        print("perfbench: benchmark process exited with %d" % proc.returncode, file=sys.stderr)
        return proc.returncode or 4
    return 0


if __name__ == "__main__":
    sys.exit(main())
