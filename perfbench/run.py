#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source first (see build.py), then runs the workload in
one JVM on local[nproc]. Inputs are generated from the seed under
``.bench_work/`` (removed afterwards); a traced run also writes its spans to
``.bench_out/``. Exits non-zero, without a result line, when the build or the
run fails. A traced run divides its call_s.p50 by that of the untraced runs
of the same build, scale and time budget recorded in ``.bench_out/``. See
README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_hourly", "stream_drops")
TIMEOUT_S = 170

# what spark-submit would add on JDK 17 (Spark's JavaModuleOptions)
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", default="0", choices=("0", "1"))
    p.add_argument("--scale", type=float, default=1.0,
                   help="row-count multiplier of the generated inputs (1.0 = sf0.1 sizes)")
    a = p.parse_args()

    classpath, build_id = build.build()
    # untraced runs record their call_s.p50 here; a traced run divides by them
    baseline = build.ROOT / ".bench_out" / (
        f"untraced-{a.workload}-scale{a.scale}-s{a.seconds}-{build_id}.txt")
    work = build.ROOT / ".bench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    # temporary files (native libraries, artifacts) stay inside the checkout
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-XX:-UsePerfData", *ADD_OPENS,
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--scale", str(a.scale),
           "--work", str(work), "--out", str(build.ROOT / ".bench_out"), "--baseline", str(baseline)]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"graftbench: {a.workload} did not finish within {TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit(f"graftbench: {a.workload} exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
