"""Builds the program and the benchmark driver from source.

Compiles every Scala file under `src/main/scala` together with
`kmbench/scala` with the Scala compiler that ships in Spark's `jars`
directory, into `.bench_build/kmbench/classes-<hash of the sources>`. A
build whose directory exists is reused.

Run directly (`python3 kmbench/build.py`) it builds and prints the class
directory.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "kmbench"


class BuildError(Exception):
    pass


def tool(name, home_var):
    home = os.environ.get(home_var)
    path = Path(home, "bin", name) if home else shutil.which(name)
    if not path or not Path(path).exists():
        raise BuildError(f"{name} not found (set {home_var} or put it on PATH)")
    return Path(path).resolve()


def spark_jars():
    """`$SPARK_HOME/jars`, or the one beside the `spark-submit` on PATH."""
    jars = tool("spark-submit", "SPARK_HOME").parent.parent / "jars"
    if not jars.is_dir():
        raise BuildError(f"no Spark jars directory at {jars}")
    return jars


def java():
    return str(tool("java", "JAVA_HOME"))


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found: {program}")
    return sorted(program.rglob("*.scala")) + sorted((ROOT / "kmbench" / "scala").glob("*.scala"))


def ensure():
    """Returns the class directory, compiling it if it is not built yet."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    for jar in sorted(jars.glob("*.jar")):
        h.update(jar.name.encode() + b"\0")
    out = OUT / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           *map(str, files)]
    # cwd: scalac puts "." on the class path, and the repository root has a
    # kmbench/scala directory that would shadow the scala package
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          cwd=tmp)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
