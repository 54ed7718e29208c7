"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (``perfbench/build.py``),
runs one benchmark JVM on ``local[k]`` (k <= 4), and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Everything it writes lives under ``.perfbench/`` in the checkout; the traced
run's spans are left in ``.perfbench/work/<workload>/trace/``.
See ``perfbench/README.md``.
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

WORKLOADS = ("crawl_full", "extract_scan", "recrawl_delta")
JVM_SECONDS = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = build.ROOT / ".perfbench" / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    # a fixed heap and young generation and a fixed set of JIT compiler
    # threads, so that no run sizes them differently; Main subtracts the
    # compiler threads' CPU time from the calls'
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", str(work), "--result", str(result)])
    # the JVM's own output goes to stderr: the last stdout line is the result
    # scratch space stays in the checkout: Spark prefers SPARK_LOCAL_DIRS
    # over spark.local.dir when it is set
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM did not finish within {JVM_SECONDS} s", 3)
    shutil.rmtree(work / "tmp", ignore_errors=True)
    if code != 0 or not result.is_file():
        fail(f"benchmark JVM exited with code {code}", 3)
    out = json.loads(result.read_text())
    if set(out) != {"correct", "attempted", "failed", "metrics"} or out["attempted"] < 1:
        fail(f"malformed result: {out}", 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
