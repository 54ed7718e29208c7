"""Build file of the extraction benchmark.

Compiles the engine (``src/main/scala``) together with the benchmark's own
sources (``perfbench/src``) with the Scala compiler that ships in Spark's
``jars`` directory, into ``.perfbench/build/classes``. A stamp over every
source file skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".perfbench" / "build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home)] if home else []
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent)
    for c in candidates:
        if (c / "jars").is_dir():
            return c / "jars"
    raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    h.update(Path(__file__).read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr) -> Path:
    """Compiles if needed and returns the classes directory."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
           "@" + str(argfile)]
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
