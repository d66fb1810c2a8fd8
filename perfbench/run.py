"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 8 --trace 0

Builds graft plus the benchmark from source (see build.py), starts one JVM
that runs the workload, and passes its output through. The JVM prints a
human-readable report and, as the last line, one JSON object
{"correct", "attempted", "failed", "metrics"}. Extra flags: `--smoke`
(tiny inputs, a handful of ops) and `--plant` (corrupt one expected
answer; the run must then report correct=false and exit non-zero).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("lake_read", "lake_mixed", "corpus_build", "stream_ingest")
# the JVM must end well inside the 180 s a run may take
JVM_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when SparkSession is created outside
# spark-submit; same list as build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant", action="store_true")
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = build.ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.jar_classpath()}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)]
    if a.smoke:
        cmd.append("--smoke")
    if a.plant:
        cmd.append("--plant")

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] {a.workload} exceeded {JVM_TIMEOUT_S} s; killed",
              file=sys.stderr)
        out, code = "", 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
