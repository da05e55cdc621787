"""Benchmark of the paper's streaming pipeline (JSON metrics -> 5-minute
window -> per-node Welford + SARIMA baseline -> alerts).

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selfcheck

Builds the program from source on first use (perfbench/build.py), runs one
JVM with the workload, and prints one JSON object as the last stdout line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones (and
writes the spans to .bench_out/traces/). --selfcheck runs the benchmark's
own specs (failure accounting, output check) and exits non-zero on failure.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("stream_ingest", "stream_model")
RESULT_PREFIX = "PERFBENCH_RESULT "
JVM_TIMEOUT_S = 170
# what spark-submit would add on JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(main_args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap keeps peak RSS from following the collector's resizing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--work", str(work)] + main_args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                              env=env, cwd=work, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] JVM timed out after {JVM_TIMEOUT_S}s", file=sys.stderr)
        return None, 124
    return proc.stdout, proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if not args.selfcheck and args.workload is None:
        ap.error("--workload is required")

    try:
        build.build()
    except build.BuildError as e:
        print(f"[perfbench] cannot build the program: {e}", file=sys.stderr)
        return 2

    out_dir = build.ROOT / ".bench_out"
    name = "selfcheck" if args.selfcheck else f"{args.workload}-s{args.seed}-t{args.trace}"
    work = out_dir / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    if args.selfcheck:
        main_args = ["--selfcheck"]
    else:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--traces", str(out_dir / "traces")]
    try:
        stdout, rc = jvm(main_args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if stdout:
        sys.stderr.write("".join(l for l in stdout.splitlines(True) if not l.startswith(RESULT_PREFIX)))
    if rc != 0:
        print(f"[perfbench] JVM exited with {rc}", file=sys.stderr)
        return rc or 1
    if args.selfcheck:
        return 0
    results = [l[len(RESULT_PREFIX):] for l in (stdout or "").splitlines() if l.startswith(RESULT_PREFIX)]
    if not results:
        print("[perfbench] JVM printed no result", file=sys.stderr)
        return 1
    result = json.loads(results[-1])
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
