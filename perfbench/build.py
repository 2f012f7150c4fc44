"""Build file of the benchmark: compiles the graft library sources and the
harness under perfbench/src with the Scala compiler that ships in Spark's
jars directory, so no build tool or dependency resolution is needed.

    python3 perfbench/build.py      # prints the classes directory

Output goes to .bench_build/ at the checkout root and is reused while no
source file changes.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = ROOT / "src" / "main" / "scala"
HARNESS = ROOT / "perfbench" / "src"
OUT = ROOT / ".bench_build"
COMPILER = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")


def sources():
    lib = sorted(LIBRARY.rglob("*.scala")) if LIBRARY.is_dir() else []
    if not lib:
        raise BuildError(f"no library sources under {LIBRARY.relative_to(ROOT)}")
    return lib + sorted(HARNESS.rglob("*.scala"))


def build():
    """Compile when needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    classes = OUT / f"classes-{digest.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    OUT.mkdir(exist_ok=True)
    for stale in OUT.glob("classes-*"):
        shutil.rmtree(stale)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    compiler_cp = os.pathsep.join(
        str(next(jars.glob(f"{name}-2.*.jar"))) for name in COMPILER)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
         "-cp", compiler_cp, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp), f"@{argfile}"],
        capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:] + proc.stderr[-4000:])
    (tmp / ".complete").touch()
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
