"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources into one class directory, with the Scala
compiler that ships among the Spark jars (no sbt, no dependency download).

    python3 perfbench/build.py        # prints the class directory

The output lands in $CARGO_TARGET_DIR (default `.bench_build` at the
checkout root) and is reused while no source file and no jar changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("set SPARK_HOME: no Spark jar directory in build.sbt")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"graft sources not found under {main}")
    bench = BENCH_DIR / "src"
    files = sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def jar_classpath():
    jars = spark_jars()
    if not (jars / "scala-compiler-2.13.17.jar").is_file():
        raise BuildError(f"Spark jars with the Scala compiler not found in {jars}")
    return str(jars / "*")


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build").resolve()


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(spark_jars().glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return the class directory, compiling first when it is stale."""
    files = sources()
    cp = jar_classpath()
    out_root = build_dir()
    classes = out_root / "perfbench-classes"
    stamp = out_root / "perfbench-classes.sha256"
    key = fingerprint(files)
    if classes.is_dir() and stamp.is_file() and stamp.read_text().strip() == key:
        return classes
    out_root.mkdir(parents=True, exist_ok=True)
    tmp = out_root / "perfbench-classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = out_root / "perfbench-sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(key + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
