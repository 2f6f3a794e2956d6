"""Compile the engine and the benchmark harness into one class directory.

The engine sources (src/main/scala) and the harness sources (perfbench/src)
are compiled together with the Scala compiler that ships in Spark's jar
directory, so the build needs neither sbt nor a network. The output lives in
.bench_build/perfbench/classes-<hash>, where the hash covers every source
file and the jar list; an unchanged tree reuses it.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = HERE / "src"
DATA = HERE / "data"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return found


def spark_jars() -> list:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for d in candidates:
        jars = sorted(d.glob("*.jar"))
        if any(j.name.startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark jar directory with a Scala compiler: set SPARK_HOME")


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def source_hash(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr) -> Path:
    """Return the class directory for the current sources, compiling if needed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256(source_hash(files).encode())
    for j in jars:
        h.update(j.name.encode())
    out = OUT / f"classes-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").exists():
        return out
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    print(f"[perfbench] compiling {len(files)} sources into {out.relative_to(ROOT)}", file=log)
    cp = os.pathsep.join(str(j) for j in jars)
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(out), "-classpath", cp] + [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (out / "BUILD_OK").write_text("")
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
