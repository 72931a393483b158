#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

Usage (from the checkout root):
  python3 perfbench/run.py --workload {bulk_load,query_mix,index_stream}
                           --seed N --seconds S --trace {0,1}
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --record-digests VERIFY_OUT

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The first run
in a checkout compiles graft and the benchmark (see build.py).
See perfbench/NOTES.md for what each workload and metric means.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bulk_load", "query_mix", "index_stream")
HEAP = "3g"
# a run, build check included, must end within 180 s
RUN_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def jvm(args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Xss8m", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--bench", build.BENCH,
            "--work", work, "--nproc", str(nproc())] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: run exceeded %d s" % timeout)
    return proc.returncode, out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--record-digests", metavar="VERIFY_OUT")
    a = p.parse_args()
    build.build()
    work_root = os.path.join(build.ROOT, ".bench_work")
    if a.selftest:
        work = os.path.join(work_root, "selftest")
        args = ["--mode", "selftest"]
    elif a.record_digests:
        work = os.path.join(work_root, "record")
        args = ["--mode", "record", "--verify-out", os.path.abspath(a.record_digests)]
    else:
        if a.workload is None or a.seed is None or a.seconds is None:
            p.error("--workload, --seed and --seconds are required")
        work = os.path.join(work_root, a.workload)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = jvm(args, work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if a.selftest or a.record_digests:
        print("\n".join(lines))
        return code
    if code != 0 or not lines:
        print("\n".join(lines), file=sys.stderr)
        print("perfbench: run failed with exit code %d" % code, file=sys.stderr)
        return code or 1
    result = json.loads(lines[-1])
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
