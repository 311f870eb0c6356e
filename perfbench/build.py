"""Build file of the benchmark package.

Compiles the engine (the checkout's `src/main/scala`) together with the
benchmark harness (`perfbench/scala`) into `perfbench/.build/classes`. It
uses the same inputs as the root `build.sbt`: the Spark jar directory that
`unmanagedBase` names, the Scala compiler that ships among those jars, and
the JDK 17 `--add-opens` list (`jdk17AddOpens`). A stamp over every source
file skips the compile when nothing changed.

    python3 perfbench/build.py        # compile if stale, print the classpath
"""
import fcntl
import glob
import hashlib
import re
import subprocess
import sys
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


def _build_sbt():
    path = ROOT / "build.sbt"
    if not path.is_file():
        raise SystemExit(f"perfbench: {path} not found: run from a checkout of the engine")
    return path.read_text()


def spark_jars():
    """Jar directory of the engine's build (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    if not m:
        raise SystemExit("perfbench: unmanagedBase not found in build.sbt")
    jars = Path(m.group(1))
    found = sorted(glob.glob(str(jars / "*.jar")))
    if not found:
        raise SystemExit(f"perfbench: no jars under {jars}")
    return found


def add_opens():
    """The `--add-opens` flags the root build.sbt forks its JVMs with."""
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", _build_sbt(), re.S)
    if not m:
        raise SystemExit("perfbench: jdk17AddOpens not found in build.sbt")
    return [flag for pkg in re.findall(r'"([^"]+)"', m.group(1))
            for flag in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def _sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "scala"]
    srcs = sorted(p for r in roots for p in r.rglob("*.scala"))
    if not any(str(p).startswith(str(ROOT / "src")) for p in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return srcs


def classpath():
    resources = ROOT / "src" / "main" / "resources"
    return [str(CLASSES), str(resources)] + spark_jars()


@contextmanager
def locked(name):
    """Serializes set-up steps between benchmark processes in one checkout."""
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / f"{name}.lock", "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        yield


def build():
    """Compiles when any source changed; returns the run classpath."""
    srcs = _sources()
    digest = hashlib.sha256(_build_sbt().encode())
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    with locked("build"):
        if STAMP.is_file() and STAMP.read_text() == stamp:
            return classpath()
        subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
        CLASSES.mkdir(parents=True)
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        jars = spark_jars()
        compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
             "-classpath", ":".join(jars), "-d", str(CLASSES), "-nowarn", f"@{argfile}"],
            check=True, stdout=sys.stderr)
        STAMP.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    print(":".join(build()))
